"""Golden-value language tests, transcribed from the reference suite
(reference: test/rad_mapper/builtin_test.cljc, query_test.cljc — expected
values only; the programs run through our engine)."""

from __future__ import annotations

import itertools
import random

import pytest

from radmapper_spark import run
from radmapper_spark.lang.interp import Interp
from radmapper_spark.operators.query_local import LocalDB

G = pytest.mark.parametrize("src,want")


# --------------------------------------------------------- jflatten rules
@G([
    ("[]", []),                       # explicit arrays keep themselves
    ("[1]", [1]),
    ("[[1]]", [[1]]),
    ("[{'a':1}].a", 1),               # singleton sequence -> element
    ("[{'a':1},{'a':2}].a", [1, 2]),
    ("[{'a':[1,2]},{'a':[3]}].a", [1, 2, 3]),
    ("{'b':1}.a", None),              # empty sequence -> no match -> null
])
def test_flatten(src, want):
    assert run(src) == want


# --------------------------------------------------------- arithmetic & ops
@G([
    ("1 + 2", 3),
    ("2 * 3 + 4", 10),
    ("2 + 3 * 4", 14),
    ("(2 + 3) * 4", 20),
    ("10 / 4", 2.5),
    ("7 % 3", 1),
    ("-7 % 3", -1),                   # JS-style remainder
    ("2 * -4", -8),
    ("5 > 3", True),
    ("5 < 3", False),
    ("3 <= 3", True),
    ("'a' = 'a'", True),
    ("1 != 2", True),
    ("[1,2] = [1,2]", True),
    ("{'a':1} = {'a':1}", True),
    ("true and false", False),
    ("true or false", True),
    ("5 in [3,4,5]", True),
    ("6 in [3,4,5]", False),
    ("'b' in ['a','b']", True),
    ("1..4", [1, 2, 3, 4]),
    ("[1..3, 5]", [1, 2, 3, 5]),
    ("false ? 1 : 2", 2),
    ("true ? 1 : 2", 1),
    ("'abc' & 'def'", "abcdef"),
    ("1 & 2", "12"),
])
def test_ops(src, want):
    assert run(src) == want


# --------------------------------------------------------- path navigation
NESTED = "{'a': {'b': {'c': 42}}}"


@G([
    (f"{NESTED}.a.b.c", 42),
    ("[{'a':{'x':1}},{'a':{'x':2}}].a.x", [1, 2]),
    ("[1,2,3][0]", 1),
    ("[1,2,3][-1]", 3),
    ("[1,2,3][1.5]", 2),              # index floors
    ("[1,2,3][5]", None),             # out of range -> nothing
    ("'abc'[0]", "abc"),              # singleton rule
    ("[1,2,3].[$]", [[1], [2], [3]]),
    ("[{'b':[1,2]},{'b':[3,4]}].b[0]", [1, 3]),  # non-compositional
    ("[{'b':[1,2]},{'b':[3,4]}].b[1]", [2, 4]),
    ("[1,2,3,4][$ > 2]", [3, 4]),     # predicate filter
    ("[{'a':1,'n':'x'},{'a':2,'n':'y'}][a=2].n", "y"),
    ("[{'a':1},{'a':2}].(a * 10)", [10, 20]),
    ("{'a':5}.(a + 1)", 6),
])
def test_paths(src, want):
    assert run(src) == want


def test_group_operator():
    # reference builtin_test.cljc NYI golden (semantics per JSONata)
    r = run("[{'n':'a','v':1},{'n':'b','v':2},{'n':'a','v':3}]{n : $.v}")
    assert r == {"a": [1, 3], "b": 2}


# --------------------------------------------------------- string functions
@G([
    ("$uppercase('abc')", "ABC"),
    ("$lowercase('ABC')", "abc"),
    ("$length('hello')", 5),
    ("$trim('  a   b  ')", "a b"),
    ("$substring('hello world', 0, 5)", "hello"),
    ("$substring('hello world', -5)", "world"),
    ("$substringBefore('a-b', '-')", "a"),
    ("$substringAfter('a-b', '-')", "b"),
    ("$substringBefore('ab', 'x')", "ab"),
    ("$split('a,b,c', ',')", ["a", "b", "c"]),
    ("$split('a1b2c', /\\d/)", ["a", "b", "c"]),
    ("$join(['a','b','c'], '-')", "a-b-c"),
    ("$join(['a','b','c'])", "abc"),
    ("$contains('hello', 'ell')", True),
    ("$contains('hello', /l+/)", True),
    ("$pad('ab', 5, '-')", "ab---"),
    ("$pad('ab', -5, '-')", "---ab"),
    ("$replace('aaa', 'a', 'b')", "bbb"),
    ("$replace('a1a2', /\\d/, 'x')", "axax"),
    ("$replace('John Smith', /(\\w+)\\s(\\w+)/, '$2 $1')", "Smith John"),
    ("$base64encode('hello')", "aGVsbG8="),
    ("$base64decode('aGVsbG8=')", "hello"),
    ("$encodeUrlComponent('a b&c')", "a%20b%26c"),
    ("$decodeUrlComponent('a%20b%26c')", "a b&c"),
    ("$string(42)", "42"),
    ("$string(1.0)", "1"),
    ("$string(true)", "true"),
    ("$string([1,2])", "[1,2]"),
    ("'07010-3544' ~> $match(/^[0-9]+$/) ~> $exists()", False),
    ("'20898' ~> $match(/^[0-9]+$/) ~> $exists()", True),
])
def test_string_fns(src, want):
    assert run(src) == want


def test_match_object_shape():
    r = run("$match('ababbabb', /a(b+)/)")
    assert r == [
        {"match": "ab", "index": 0, "groups": ["b"]},
        {"match": "abb", "index": 2, "groups": ["bb"]},
        {"match": "abb", "index": 5, "groups": ["bb"]},
    ]


# --------------------------------------------------------- numeric functions
@G([
    ("$abs(-5)", 5),
    ("$ceil(3.2)", 4),
    ("$floor(3.8)", 3),
    ("$round(2.5)", 2),               # banker's rounding (HALF_EVEN)
    ("$round(3.5)", 4),
    ("$round(2.345, 2)", 2.34),
    ("$sqrt(16)", 4.0),
    ("$power(2, 10)", 1024),
    ("$number('42')", 42),
    ("$number('3.5')", 3.5),
    ("$formatBase(255, 16)", "ff"),
    ("$formatBase(5, 2)", "101"),
    ("$formatNumber(12345.678, '#,###.00')", "12,345.68"),
    ("$formatInteger(7, 'w')", "seven"),
    ("$formatInteger(42, 'w')", "forty-two"),
    ("$formatInteger(12, 'i')", "xii"),
    ("$parseInteger('forty-two', 'w')", 42),
    ("$parseInteger('xii', 'i')", 12),
])
def test_numeric_fns(src, want):
    assert run(src) == want


# --------------------------------------------------------- boolean / arrays
@G([
    ("$boolean(0)", False),
    ("$boolean('')", False),
    ("$boolean('a')", True),
    ("$boolean([])", False),
    ("$boolean([0])", False),
    ("$boolean([0,1])", True),
    ("$boolean({})", False),
    ("$not(true)", False),
    ("$exists({'a':1}.a)", True),
    ("$exists({'a':1}.b)", False),
    ("$sum([1,2,3])", 6),
    ("$sum([1.5, 2.5])", 4.0),
    ("$sum(3)", 3),
    ("$max([3,1,2])", 3),
    ("$min([3,1,2])", 1),
    ("$average([1,2,3])", 2.0),
    ("$count([1,2,3])", 3),
    ("$count('a')", 1),
    ("$distinct([1,2,1,3,2])", [1, 2, 3]),
    ("$reverse([1,2,3])", [3, 2, 1]),
    ("$sort([3,1,2])", [1, 2, 3]),
    ("$sort(['b','a','c'])", ["a", "b", "c"]),
    ("$sort([3,1,2], function($a,$b){$a < $b})", [3, 2, 1]),
    ("$append([1,2],[3])", [1, 2, 3]),
    ("$append(1, 2)", [1, 2]),
    ("$zip([1,2],['a','b'])", [[1, "a"], [2, "b"]]),
    ("$zip([1,2,3],['a','b'])", [[1, "a"], [2, "b"]]),
])
def test_bool_array_fns(src, want):
    assert run(src) == want


# --------------------------------------------------------- object functions
@G([
    ("$keys({'a':1,'b':2})", ["a", "b"]),
    ("$lookup({'a':1}, 'a')", 1),
    ("$merge([{'a':1},{'b':2}])", {"a": 1, "b": 2}),
    ("$spread({'a':1,'b':2})", [{"a": 1}, {"b": 2}]),
    ("$type(1)", "number"),
    ("$type('a')", "string"),
    ("$type(true)", "boolean"),
    ("$type([1])", "array"),
    ("$type({'a':1})", "object"),
    ("$type(null)", "null"),
    ("$each({'a':1,'b':2}, function($v,$k){$v})", [1, 2]),
    ("$sift({'a':1,'b':10}, function($v){$v > 5})", {"b": 10}),
    ("$assoc({'a':1}, 'b', 2)", {"a": 1, "b": 2}),
    ("$update({'a':1}, 'a', function($v){$v+1})", {"a": 2}),
    ("$mapObject({'a':1,'b':2}, function($k,$v){{$k : $v*10}})", {"a": 10, "b": 20}),
])
def test_object_fns(src, want):
    assert run(src) == want


# --------------------------------------------------------- HOFs & closures
@G([
    ("$map([1,2,3], function($x){$x * 2})", [2, 4, 6]),
    ("$map([1,2,3], function($x,$i){$i})", [0, 1, 2]),
    ("$filter([1,2,3,4], function($x){$x > 2})", [3, 4]),
    ("$reduce([1,2,3,4], function($a,$b){$a + $b})", 10),
    ("$reduce([1,2,3], function($a,$b){$a + $b}, 10)", 16),
    ("$single([1,2,3], function($x){$x = 2})", 2),
    ("($add := function($a,$b){$a + $b}; $add(1, 2))", 3),
    ("($c := function($x){function($y){$x + $y}}; $c(10)(5))", 15),
    ("4 ~> $sqrt()", 2.0),
    ("16 ~> $sqrt() ~> $sqrt()", 2.0),
    ("'abc' ~> $uppercase()", "ABC"),
    ("[1,2,3] ~> $sum()", 6),
])
def test_hofs(src, want):
    assert run(src) == want


# --------------------------------------------------------- datetime
def test_datetime_roundtrip():
    assert run("$toMillis('1970-01-01T00:00:00Z')") == 0
    assert run("$toMillis('2000-01-01T00:00:00Z')") == 946684800000
    assert run("$fromMillis(0)") == "1970-01-01T00:00:00.000Z"
    assert run("$fromMillis(946684800000, '[Y0001]-[M01]-[D01]')") == "2000-01-01"
    r = run("($m := $millis(); $m >= 0 and $m = $millis())")
    assert r is True  # frozen per evaluation


# --------------------------------------------------------- flagship (§7.2)
def test_flagship_account_order():
    src = """
    ( $data := {'Account': {'Order': [
        {'OrderID': 'order103', 'Product': [
            {'Product Name': 'Bowler Hat', 'ProductID': 858383, 'Price': 34.45, 'Quantity': 2},
            {'Product Name': 'Trilby hat', 'ProductID': 858236, 'Price': 21.67, 'Quantity': 1}]},
        {'OrderID': 'order104', 'Product': [
            {'Product Name': 'Bowler Hat', 'ProductID': 858383, 'Price': 34.45, 'Quantity': 4},
            {'Product Name': 'Cloak', 'ProductID': 345664, 'Price': 107.99, 'Quantity': 1}]}]}};
      $ := $data;
      $sum(Account.Order.Product.(Price * Quantity)) )
    """
    assert abs(run(src) - 336.36) < 1e-9


def test_flagship_products_list():
    src = """
    ( $data := {'Account': {'Order': [
        {'Product': [{'Price': 34.45, 'Quantity': 2}, {'Price': 21.67, 'Quantity': 1}]},
        {'Product': [{'Price': 34.45, 'Quantity': 4}, {'Price': 107.99, 'Quantity': 1}]}]}};
      $ := $data;
      Account.Order.Product.(Price * Quantity) )
    """
    assert run(src) == [68.9, 21.67, 137.8, 107.99]


# --------------------------------------------------------- query{}
def test_query_basic():
    r = run("( $data := [{'name':'Bob','age':30},{'name':'Alice','age':25}];"
            "  $q := query{[?e :name ?n] [?e :age ?a]}; $q($data) )")
    assert r == [{"n": "Bob", "a": 30}, {"n": "Alice", "a": 25}]


def test_query_literal_filter():
    r = run("( $data := [{'name':'Bob','age':30},{'name':'Alice','age':25}];"
            "  query{[?e :name 'Bob'] [?e :age ?a]}($data) )")
    assert r == [{"a": 30}]


def test_query_two_sources():
    r = run("( $dba := [{'id':123,'aAttr':'A-value'},{'id':234,'aAttr':'B-value'}];"
            "  $dbb := [{'id':123,'bAttr':'123-value'},{'id':234,'bAttr':'234-value'}];"
            "  $q := query{[$dba ?e1 :id ?id] [$dba ?e1 :aAttr ?aval]"
            "              [$dbb ?e2 :id ?id] [$dbb ?e2 :bAttr ?bval]};"
            "  $q($dba, $dbb) )")
    assert r == [
        {"id": 123, "aval": "A-value", "bval": "123-value"},
        {"id": 234, "aval": "B-value", "bval": "234-value"},
    ]


def test_query_parametric():
    r = run("($qBob := query($name){[?e :name $name]}('Bob');"
            " $qBob([{'name' : 'Bob'}]))")
    assert r == [{}]


def test_query_attribute_wildcard():
    r = run("( $data := [{'a':1,'b':2}]; query{[?e ?attr ?val]}($data) )")
    assert sorted(r, key=lambda d: d["attr"]) == [
        {"attr": "a", "val": 1}, {"attr": "b", "val": 2}]


def test_query_nested_entities():
    r = run("( $data := {'id': 1, 'child': {'val': 'x'}};"
            "  query{[?e :child ?c] [?c :val ?v]}($data) )")
    assert r == [{"v": "x"}]


def test_query_predicate():
    r = run("( $data := [{'name':'Bob'},{'name':'Alice'}];"
            "  query{[?e :name ?n] [($match(?n, /^A/))]}($data) )")
    assert r == [{"n": "Alice"}]


# ------------------------------------------ query{} probe vs brute force
VALS = [0, 1, 1.0, 2, 2.0, 2.5, True, False, "x", "1"]  # pattern literals
ATTRS = ["a", "b", "c"]
# pattern kinds: (source, entity, attribute, value) tuples, where a "?name"
# term is a qvar, "$p" the query param and anything else a literal
PROBE_KINDS = {
    "entity": lambda a, b, lit: [("s1", "?e", a, "?x"), ("s1", "?e", b, "?y")],
    "value_literal": lambda a, b, lit: [("s1", "?e", a, lit), ("s1", "?e", b, "?y")],
    "value_param": lambda a, b, lit: [("s1", "?e", a, "$p"), ("s2", "?f", b, "?y")],
    "value_qvar": lambda a, b, lit: [("s1", "?e", a, "?x"), ("s2", "?f", b, "?x")],
    "attr_wildcard": lambda a, b, lit: [("s1", "?e", "?at", "?x"),
                                        ("s2", "?f", "?at", "?x"), ("s2", "?f", a, "?y")],
    "blank": lambda a, b, lit: [("s1", "?e", a, "?_"), ("s1", "?e", "?_", "?x")],
    "repeated_value": lambda a, b, lit: [("s1", "?e", a, "?x"), ("s1", "?e", b, "?x")],
    "nested": lambda a, b, lit: [("s1", "?e", a, "?k"), ("s1", "?k", b, "?x")],
}


def _docs(rng):
    """3-8 documents of ints, floats equal to ints, bools, strings, nulls,
    many-valued attributes and nested children."""
    def doc(depth):
        out = {}
        for at in rng.sample(ATTRS, rng.randint(1, 3)):
            r = rng.random()
            out[at] = (doc(depth + 1) if r < 0.2 and depth < 2
                       else [rng.choice(VALS + [None]) for _ in range(2)] if r < 0.35
                       else rng.choice(VALS + [None]))
        return out
    return [doc(0) for _ in range(rng.randint(3, 8))]


def _same(x, y):
    """Query equality: numbers by value (an Eid is a number), a bool only
    equals the same bool."""
    if isinstance(x, bool) or isinstance(y, bool):
        return x is y
    if isinstance(x, (int, float)) and isinstance(y, (int, float)):
        return float(x) == float(y)
    return x == y


def _brute(dbs, pats):
    """Reference matcher: every binding set against every triple."""
    def match(b, terms, t):
        b = dict(b)
        for term, x in zip(terms, t):
            qv = isinstance(term, str) and term[:1] == "?"
            if qv and term != "?_" and term[1:] not in b:
                b[term[1:]] = x
            elif term != "?_" and not _same(b[term[1:]] if qv else term, x):
                return None
        return b
    bsets = [{}]
    for src, *terms in pats:
        bsets = [m for b, t in itertools.product(bsets, dbs[src].triples)
                 if (m := match(b, terms, t)) is not None]
    return bsets


def _rm(term):
    if isinstance(term, bool):
        return "true" if term else "false"
    if term is None:
        return "null"
    if isinstance(term, str) and term[:1] not in ("?", "$"):
        return repr(term)
    return str(term)


def _typed(rows):
    return [sorted((k, type(v).__name__, v) for k, v in r.items()) for r in rows]


@pytest.mark.parametrize("kind", sorted(PROBE_KINDS))
def test_query_probe_matches_brute_force(kind):
    """Indexed run_query gives the nested-loop answer, order and value
    types included, over seeded random documents in two sources."""
    ip = Interp()
    probed = False
    for seed in range(40):
        rng = random.Random(seed)
        dbs = {"s1": LocalDB.from_data(_docs(rng)),
               "s2": LocalDB.from_data(_docs(rng))}
        a, b = rng.sample(ATTRS, 2)
        pats = PROBE_KINDS[kind](a, b, rng.choice(VALS))
        param = rng.choice(VALS + [None])
        body = " ".join(f"[${s} {e} {':' + at if at[0] != '?' else at} {_rm(v)}]"
                        for s, e, at, v in pats)
        srcs = ", ".join("$" + s for s in dict.fromkeys(p[0] for p in pats))
        got = ip.run_raw(f"( $q := query($p){{{body}}} <|keepDBid: true|>;"
                         f" $q({_rm(param)})({srcs}) )",
                         bindings={"$s1": dbs["s1"], "$s2": dbs["s2"]})
        want = []
        for row in _brute(dbs, [tuple(param if t == "$p" else t for t in p)
                                for p in pats]):
            # datalog set semantics under query equality, first one kept
            if not any(w.keys() == row.keys()
                       and all(_same(w[k], row[k]) for k in row) for w in want):
                want.append(row)
        assert _typed(got) == _typed(want), (seed, body, param)
        probed |= bool(dbs["s1"].index or dbs["s2"].index)
    assert probed or kind == "blank"


def test_query_result_dedup_follows_query_equality():
    """Result rows are deduplicated under the query's own equality: 1
    and 1.0 are one row, but true and '1' are not the number 1."""
    src = "($d := [{'v':1},{'v':true},{'v':1.0},{'v':'1'}]; query{[$d ?e :v ?x]}($d))"
    assert _typed(run(src)) == _typed([{"x": 1}, {"x": True}, {"x": "1"}])


def test_query_indexes_follow_add_data():
    """Probe indexes built by one query are dropped by add_data: the next
    query sees the new triples."""
    ip = Interp()
    db = LocalDB.from_data([{"id": 1, "name": "a"}])
    by_name = "query{[$d ?e :name 'b'] [$d ?e :id ?i]}($d)"
    join = "query{[$d ?e :id ?i] [$d ?e :name ?n]}($d)"
    assert ip.run_raw(by_name, bindings={"$d": db}) == []
    assert ip.run_raw(join, bindings={"$d": db}) == [{"i": 1, "n": "a"}]
    assert {("name", 2), ("name", 0)} <= set(db.index)
    db.add_data([{"id": 2, "name": "b"}])
    assert ip.run_raw(by_name, bindings={"$d": db}) == [{"i": 2}]
    assert ip.run_raw(join, bindings={"$d": db}) == [
        {"i": 1, "n": "a"}, {"i": 2, "n": "b"}]


# --------------------------------------------------------- express{}
def test_express_map_type1():
    r = run("$map([{?deviceName:'device1', ?id:100},{?deviceName:'device2', ?id:200}],"
            " express{{'device_id' : key(?id)}})")
    assert r == [{"device_id": 100}, {"device_id": 200}]


def test_express_map_type2():
    r = run("$map([{?deviceName:'device1', ?id:100},{?deviceName:'device2', ?id:200}],"
            " express{{?deviceName : {'id' : ?id}}})")
    assert r == [{"device1": {"id": 100}}, {"device2": {"id": 200}}]


def test_express_reduce_small_type1():
    r = run("$reduce([{?deviceName:'device1', ?id:100},{?deviceName:'device2', ?id:200}],"
            " express{{'devices' : [{'device_id' : key(?id)}]}})")
    assert r == {"devices": [{"device_id": 100}, {"device_id": 200}]}


def test_express_reduce_small_type2():
    r = run("$reduce([{?deviceName:'device1', ?id:100},{?deviceName:'device2', ?id:200}],"
            " express{{'devices' : {?deviceName : {'id' : ?id}}}})")
    assert r == {"devices": {"device1": {"id": 100}, "device2": {"id": 200}}}


BSETS8 = ("[{?systemName:'system1', ?deviceName:'device3', ?id:300, ?status:'Ok', ?ownerName:'owner2'},"
          " {?systemName:'system2', ?deviceName:'device8', ?id:800, ?status:'Ok', ?ownerName:'owner2'},"
          " {?systemName:'system1', ?deviceName:'device4', ?id:400, ?status:'Ok', ?ownerName:'owner2'},"
          " {?systemName:'system2', ?deviceName:'device5', ?id:500, ?status:'Ok', ?ownerName:'owner1'},"
          " {?systemName:'system2', ?deviceName:'device7', ?id:700, ?status:'Ok', ?ownerName:'owner2'},"
          " {?systemName:'system2', ?deviceName:'device6', ?id:600, ?status:'Ok', ?ownerName:'owner1'},"
          " {?systemName:'system1', ?deviceName:'device1', ?id:100, ?status:'Ok', ?ownerName:'owner1'},"
          " {?systemName:'system1', ?deviceName:'device2', ?id:200, ?status:'Ok', ?ownerName:'owner1'}]")


def test_express_reduce_type1_full():
    # reference query_test.cljc:820-850 golden output
    r = run("$reduce(" + BSETS8 + ","
            " express(){{'owners': [{'owner_id' : key(?ownerName),"
            "                        'systems'  : [{'system_id' : key(?systemName),"
            "                                       'devices'   : [{'device_id'     : key(?id),"
            "                                                       'device_name'   : ?deviceName,"
            "                                                       'device_status' : ?status}]}]}]}})")
    assert r == {"owners": [
        {"owner_id": "owner1",
         "systems": [
             {"system_id": "system1",
              "devices": [{"device_id": 100, "device_name": "device1", "device_status": "Ok"},
                          {"device_id": 200, "device_name": "device2", "device_status": "Ok"}]},
             {"system_id": "system2",
              "devices": [{"device_id": 500, "device_name": "device5", "device_status": "Ok"},
                          {"device_id": 600, "device_name": "device6", "device_status": "Ok"}]}]},
        {"owner_id": "owner2",
         "systems": [
             {"system_id": "system1",
              "devices": [{"device_id": 300, "device_name": "device3", "device_status": "Ok"},
                          {"device_id": 400, "device_name": "device4", "device_status": "Ok"}]},
             {"system_id": "system2",
              "devices": [{"device_id": 700, "device_name": "device7", "device_status": "Ok"},
                          {"device_id": 800, "device_name": "device8", "device_status": "Ok"}]}]}]}


def test_express_reduce_type2_full():
    # reference query_test.cljc:852-880 golden output
    r = run("$reduce(" + BSETS8 + ","
            " express(){{'owners':"
            "   {?ownerName: {'systems':"
            "     {?systemName: {?deviceName : {'id' : ?id, 'status' : ?status}}}}}}})")
    assert r == {"owners": {
        "owner1": {"systems": {"system1": {"device1": {"id": 100, "status": "Ok"},
                                           "device2": {"id": 200, "status": "Ok"}},
                               "system2": {"device5": {"id": 500, "status": "Ok"},
                                           "device6": {"id": 600, "status": "Ok"}}}},
        "owner2": {"systems": {"system1": {"device3": {"id": 300, "status": "Ok"},
                                           "device4": {"id": 400, "status": "Ok"}},
                               "system2": {"device7": {"id": 700, "status": "Ok"},
                                           "device8": {"id": 800, "status": "Ok"}}}}}}


def test_express_reduce_mixed():
    r = run("$reduce([{?systemName:'system1', ?id:100, ?ownerName:'owner1'},"
            "         {?systemName:'system2', ?id:800, ?ownerName:'owner2'}],"
            " express{ {?ownerName : {'systems' : [{'system_id' : key(?systemName),"
            "                                       'devices'   : [{'device_id' : key(?id)}]}]}} })")
    assert r == {
        "owner1": {"systems": [{"system_id": "system1", "devices": [{"device_id": 100}]}]},
        "owner2": {"systems": [{"system_id": "system2", "devices": [{"device_id": 800}]}]}}


def test_query_express_pipeline():
    """The canonical two-source merge (reference query_test.cljc:622-641)."""
    r = run("( $dba := [{'id':123,'aAttr':'A-value'},{'id':234,'aAttr':'B-value'}];"
            "  $dbb := [{'id':123,'bAttr':'123-value'},{'id':234,'bAttr':'234-value'}];"
            "  $q := query{[$dba ?e1 :id ?id] [$dba ?e1 :aAttr ?aval]"
            "              [$dbb ?e2 :id ?id] [$dbb ?e2 :bAttr ?bval]};"
            "  $bsets := $q($dba, $dbb);"
            "  $reduce($bsets, express{{'result': [{'id': key(?id), 'a': ?aval, 'b': ?bval}]}}) )")
    assert r == {"result": [
        {"id": 123, "a": "A-value", "b": "123-value"},
        {"id": 234, "a": "A-value", "b": "234-value"}]} or r == {"result": [
            {"id": 123, "a": "A-value", "b": "123-value"},
            {"id": 234, "a": "B-value", "b": "234-value"}]}


def test_identity_roundtrip():
    """$reduce($qIdent(data)(data), $eIdent(data)) == data (F9)."""
    src = ("( $data := {'id': 1, 'aAttr': {'aval': 'A', 'cval': {'cc': 'C'}}, 'bAttr': {'bval': 'B'}};"
           "  $q := $qIdent($data); $e := $eIdent($data);"
           "  $reduce($q($data), $e) )")
    r = run(src)
    assert r == {"id": 1, "aAttr": {"aval": "A", "cval": {"cc": "C"}}, "bAttr": {"bval": "B"}}


# --------------------------------------------------------- blocks & context
@G([
    ("($x := 5; $y := 10; $x + $y)", 15),
    ("($x := 5; ($x := 10; $x))", 10),
    ("($ := {'a': 7}; a)", 7),
    ("($ := {'a': 7}; $.a)", 7),
    ("($ := {'a': {'b': 3}}; a.b)", 3),
    ("($ := [1,2,3]; $count($))", 3),
])
def test_blocks(src, want):
    assert run(src) == want


def test_data_binding():
    assert run("$.a", data={"a": 9}) == 9
    assert run("a.b", data={"a": {"b": 1}}) == 1
    assert run("$$.a", data={"a": 9}) == 9


def test_express_numeric_keys_restored():
    """Non-string (numeric) map keys in qvar-key-position survive reduction
    (reference query_test.cljc:654-675)."""
    r = run("$reduce([{?id: 123, ?aval: 'A'}, {?id: 234, ?aval: 'B'}],"
            " express{{?id : {'a': ?aval}}})")
    assert r == {123: {"a": "A"}, 234: {"a": "B"}}


def test_express_parametric():
    r = run("( $pe := express($type){{'instance-of': $type, 'content': ?content}};"
            "  $e := $pe('MyType');"
            "  $map([{?content: 'c1'}, {?content: 'c2'}], $e) )")
    assert r == [{"instance-of": "MyType", "content": "c1"},
                 {"instance-of": "MyType", "content": "c2"}]


def test_parametric_query_then_express():
    """reference query_test.cljc:217-232 simple-parametric-express."""
    r = run("( $data   := {'instance-of' : 'MyType', 'content' : 'someContent'};"
            "  $q      := query($type) { [?e :instance-of $type]"
            "                            [?e :content     ?content] };"
            "  $qq     := $q('MyType');"
            "  $bsets  := $qq($data);"
            "  $map($bsets, express{{'the-content': ?content}}) )")
    assert r == [{"the-content": "someContent"}]


def test_identities_roundtrip_vector_data():
    src = ("( $data := [{'id': 1, 'x': {'y': 'a'}}];"
           "  $reduce($qIdent($data)($data), $eIdent($data)) )")
    assert run(src) == {"id": 1, "x": {"y": "a"}}


# ---- rule{} named datalog rules (reference parse.cljc:1168-1206) ----

def test_rule_standalone_application():
    """A rule applied to data runs its clauses as a query projected to the
    head qvars (the reference's Seattle twitter? example shape)."""
    r = run("( $isT := rule{(twitter? ?c)"
            "             [?c :community_type 'twitter']};"
            "  $isT([{'community_type': 'twitter', 'name': 'a'},"
            "        {'community_type': 'forum',   'name': 'b'},"
            "        {'community_type': 'twitter', 'name': 'c'}]) )")
    assert isinstance(r, list) and len(r) == 2


def test_rule_spliced_into_query():
    """[(name ?x)] inside query{} splices the rule's clauses; rule-internal
    qvars stay scoped (no leak into the binding set)."""
    r = run("( $adj := rule{(adjacent ?a ?b)"
            "              [?e :from ?a] [?e :to ?b]};"
            "  $q := query{[(adjacent ?x ?y)]};"
            "  $q([{'from': 1, 'to': 2}, {'from': 2, 'to': 3}]) )")
    assert sorted((b["x"], b["y"]) for b in r) == [(1, 2), (2, 3)]
    assert all(set(b) == {"x", "y"} for b in r)


def test_rule_spliced_with_extra_patterns():
    r = run("( $adj := rule{(adjacent ?a ?b) [?e :from ?a] [?e :to ?b]};"
            "  $q := query{[(adjacent ?x ?y)] [?e2 :from ?y] [?e2 :to ?z]};"
            "  $q([{'from': 1, 'to': 2}, {'from': 2, 'to': 3}]) )")
    assert sorted((b["x"], b["y"], b["z"]) for b in r) == [(1, 2, 3)]


def test_rule_invoking_rule():
    """A rule body may invoke another rule: the inner RuleCall's args must
    be renamed through the outer head mapping, so the caller's qvars
    (?p/?q) — not the rules' internal names — reach the binding set."""
    r = run("( $adj := rule{(adjacent ?a ?b) [?e :from ?a] [?e :to ?b]};"
            "  $via := rule{(viarule ?x ?y) [(adjacent ?x ?y)]};"
            "  $q := query{[(viarule ?p ?q)]};"
            "  $q([{'from': 1, 'to': 2}, {'from': 2, 'to': 3}]) )")
    assert sorted((b["p"], b["q"]) for b in r) == [(1, 2), (2, 3)]
    assert all(set(b) == {"p", "q"} for b in r)


def test_rule_two_hop_via_nested_rules():
    """Inner rule invoked twice from one outer rule: fresh names must be
    unique across SIBLING expansions or the two hops' internal ?e collide."""
    r = run("( $adj := rule{(adjacent ?a ?b) [?e :from ?a] [?e :to ?b]};"
            "  $hop2 := rule{(hop2 ?x ?z) [(adjacent ?x ?m)] [(adjacent ?m ?z)]};"
            "  $q := query{[(hop2 ?p ?q)]};"
            "  $q([{'from': 1, 'to': 2}, {'from': 2, 'to': 3}]) )")
    assert sorted((b["p"], b["q"]) for b in r) == [(1, 3)]


def test_rule_with_predicate_clause():
    """A predicate inside a rule body must see the RENAMED qvars — before
    the generic-walk fix it referenced the pre-rename name and silently
    filtered every row."""
    r = run("( $big := rule{(big ?v) [?e :val ?v] [($boolean(?v > 10))]};"
            "  $q := query{[(big ?n)]};"
            "  $q([{'val': 5}, {'val': 15}, {'val': 25}]) )")
    assert sorted(b["n"] for b in r) == [15, 25]
