"""Datalog `query{}` over in-memory Python data (driver side).

The reference loads data into Datahike and runs `d/q` through its
EAVT/AVET indexes (reference: query.cljc:270-298 db-for!,
builtin.cljc:1737-1838). Here `LocalDB.add_data` shreds documents into
(Eid, attr, value) triples grouped by attribute. Each triple pattern then
probes a hash index on its bound entity, else on its bound value (a
literal, a param or an earlier qvar), else scans all of its attribute (an
attribute qvar scans every triple), and `_unify` checks each candidate.
Index keys and `_eq` share `_key`, so a probe never drops a match, and
index lists keep triple order, so binding sets come out in full-scan
order. An (attribute, position) index is built on its first probe: a
query touches few, and building all of them in `add_data` cost more than
probing saved. `add_data` drops them; a reused `$db(...)` keeps them.
The Spark twin (operators/query_spark.py) runs the same patterns as
DataFrame equi-joins; this module is authoritative for semantics.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from ..lang import ast as A
from ..lang.interp import _hashable
from ..lang.values import JSeq, NOMATCH, is_nomatch, jflatten


class Eid(int):
    """Entity id — an int subtype so binding values can be recognized as
    surrogate ids (dropped from binding sets unless keepDBid)."""

    __repr__ = lambda self: f"Eid({int(self)})"  # noqa: E731


@dataclass
class LocalDB:
    triples: list = field(default_factory=list)  # (Eid, attr:str, value)
    next_eid: int = 1
    schema: dict = field(default_factory=dict)
    by_attr: dict = field(default_factory=dict)
    # (attr, 0 = entity | 2 = value) -> {_key: [triple]}, built by probe()
    index: dict = field(default_factory=dict, repr=False, compare=False)

    @classmethod
    def from_data(cls, data) -> "LocalDB":
        db = cls()
        db.add_data(data)
        return db

    def add_data(self, data) -> None:
        items = data if isinstance(data, (list, JSeq)) else [data]
        for item in items:
            if isinstance(item, dict):
                self._shred(item)
        self.by_attr = {}
        self.index = {}
        for t in self.triples:
            self.by_attr.setdefault(t[1], []).append(t)

    def probe(self, attr: str, pos: int, key) -> list:
        """Triples of `attr` whose entity (pos 0) or value (pos 2) keys to `key`."""
        idx = self.index.get((attr, pos))
        if idx is None:
            idx = self.index[(attr, pos)] = {}
            for t in self.by_attr.get(attr, ()):
                idx.setdefault(_key(t[pos]), []).append(t)
        return idx.get(key, [])

    def _shred(self, obj: dict) -> Eid:
        eid = Eid(self.next_eid)
        self.next_eid += 1
        for k, v in obj.items():
            self._assert_val(eid, str(k), v)
        return eid

    def _assert_val(self, eid: Eid, attr: str, v) -> None:
        if isinstance(v, dict):
            child = self._shred(v)
            self.triples.append((eid, attr, child))
        elif isinstance(v, (list, JSeq)):
            for x in v:  # cardinality-many
                self._assert_val(eid, attr, x)
        elif not is_nomatch(v):
            self.triples.append((eid, attr, v))

    def add_schema(self, schema) -> None:
        if isinstance(schema, dict):
            self.schema.update(schema)

    def pull(self, eid: int) -> dict:
        out: dict = {}
        for e, a, v in self.triples:
            if int(e) != int(eid):
                continue
            val = self.pull(v) if isinstance(v, Eid) else v
            if a in out:
                if not isinstance(out[a], list):
                    out[a] = [out[a]]
                out[a].append(val)
            else:
                out[a] = val
        return out


def learn_schema(data) -> dict:
    """Heuristic schema inference (reference query.cljc:60-86 learn-schema;
    util.cljc:354-361 db-type-of). Samples large vectors like the
    reference (>200 values => sample 100, query.cljc:11-23)."""
    out: dict = {}

    def typeof(v):
        if isinstance(v, bool):
            return "boolean"
        if isinstance(v, (int, float)):
            return "number"
        if isinstance(v, str):
            return "string"
        if isinstance(v, dict):
            return "ref"
        return "unknown"

    def walk(obj):
        if isinstance(obj, dict):
            for k, v in obj.items():
                entry = out.setdefault(str(k), {"cardinality": "one"})
                if isinstance(v, (list, JSeq)):
                    entry["cardinality"] = "many"
                    vals = list(v)
                    if len(vals) > 200:
                        vals = vals[:100]
                    for x in vals:
                        entry["type"] = typeof(x)
                        walk(x)
                else:
                    entry["type"] = typeof(v)
                    walk(v)
        elif isinstance(obj, (list, JSeq)):
            for x in obj:
                walk(x)

    walk(data)
    return out


_FREE = object()  # _bound: an unbound qvar or `?_`, which matches any value
NEVER = object()  # a term that matches no value: a $var that is no query param


def _bound(term, b: dict, subs):
    """The value a pattern term is fixed to before matching: a literal, a
    query param or a qvar bound in `b`; else _FREE or NEVER."""
    if isinstance(term, A.QVar):
        return b.get(term.name[1:], _FREE)
    if isinstance(term, A.Lit):
        return term.value
    if isinstance(term, A.Var) and term.name in subs:
        return subs[term.name]
    return NEVER


def attr_of(term, subs):
    """The attribute a term names, for both executors: a literal or query
    param gives its name (leading ':' dropped), a qvar None (any attribute),
    anything else (such as a closure $var) NEVER, which names none."""
    want = _bound(term, {}, subs)
    if want is _FREE:
        return None
    if want is NEVER:
        return NEVER
    name = str(want)
    return name[1:] if name.startswith(":") else name


def _resolve_dbs(ip, q, args, env) -> dict:
    """Map db-var name (or None) -> LocalDB for this invocation."""
    db_vars = []
    for p in q.patterns:
        if isinstance(p, A.TriplePattern) and p.db is not None and p.db not in db_vars:
            db_vars.append(p.db)
    dbs: dict = {}
    pos_args = list(args)
    if db_vars:
        for i, dv in enumerate(db_vars):
            val = pos_args[i] if i < len(pos_args) else (
                q.env.lookup(dv) if q.env.has(dv) else env.lookup(dv))
            dbs[dv] = _as_db(ip, val)
        dbs[None] = dbs[db_vars[0]]
    else:
        val = pos_args[0] if pos_args else NOMATCH
        dbs[None] = _as_db(ip, val)
    return dbs


def _as_db(ip, val):
    from .spark_bridge import SparkDB, maybe_spark_db
    if isinstance(val, (LocalDB, SparkDB)):
        return val
    sdb = maybe_spark_db(ip, val)
    if sdb is not None:
        return sdb
    return LocalDB.from_data(jflatten(val))


_RULE_FRESH = [0]  # global so sibling expansions can never collide


def expand_rule_calls(patterns: list, q_env, env, _depth: int = 0) -> list:
    """Splice [(name ?x)] rule invocations into their clause groups:
    head qvars map to the call's args, rule-internal qvars get fresh
    names (no capture). The rename is a generic AST walk, so qvars inside
    nested RuleCall args and PredPattern call expressions are substituted
    too — a rule can invoke rules and carry predicates on its own vars.
    Rules may invoke rules; depth-capped against unbounded recursion."""
    import dataclasses as _dc

    from ..lang import ast as A
    from ..lang.interp import RuleV
    if _depth > 8:
        raise ValueError("rule expansion too deep (recursive rule?)")
    out = []
    for p in patterns:
        if not isinstance(p, A.RuleCall):
            out.append(p)
            continue
        rv = None
        for e in (q_env, env):
            if e is not None and e.has(p.name):
                rv = e.lookup(p.name)
                break
        if not isinstance(rv, RuleV):
            raise ValueError(f"unknown rule {p.name!r} in query pattern")
        mapping = dict(zip(rv.args, p.args))
        _RULE_FRESH[0] += 1
        tag = f"__r{_RULE_FRESH[0]}"

        def rn(node):
            if isinstance(node, A.QVar):
                if node.name == "?_":
                    return node  # wildcard never binds; renaming would
                return mapping.get(node.name) or A.QVar(f"?{tag}_{node.name[1:]}")
            if isinstance(node, A.Node) and _dc.is_dataclass(node):
                changes = {}
                for fld in _dc.fields(node):
                    v = getattr(node, fld.name)
                    nv = rn_val(v)
                    if nv is not v:
                        changes[fld.name] = nv
                return _dc.replace(node, **changes) if changes else node
            return node

        def rn_val(v):
            if isinstance(v, A.Node):
                return rn(v)
            if isinstance(v, list):
                nl = [rn_val(x) for x in v]
                return nl if any(a is not b for a, b in zip(nl, v)) else v
            return v

        renamed = [rn(cl) for cl in rv.clauses]
        out.extend(expand_rule_calls(renamed, rv.env, env, _depth + 1))
    return out


def run_query(ip, q, args: list, env):
    """Execute a query fn value against data/db arguments -> binding sets
    (list of dicts keyed by qvar name without '?')."""
    import dataclasses

    from .query_spark import run_query_spark
    from .spark_bridge import SparkDB
    if any(isinstance(p, A.RuleCall) for p in q.patterns):
        q = dataclasses.replace(
            q, patterns=expand_rule_calls(q.patterns, q.env, env))
    dbs = _resolve_dbs(ip, q, args, env)
    if any(isinstance(db, SparkDB) for db in dbs.values()):
        return run_query_spark(ip, q, dbs, env)
    subs = q.param_subs or {}

    # order: triple patterns first in given order, predicates after their
    # variables are bound (simple heuristic: predicates always last)
    triples = [p for p in q.patterns if isinstance(p, A.TriplePattern)]
    preds = [p for p in q.patterns if isinstance(p, A.PredPattern)]

    bsets: list[dict] = [{}]
    entity_vars: set[str] = set()
    for pat in triples:
        db = dbs.get(pat.db, dbs[None])
        e_t, a_t, v_t = pat.e, pat.a, pat.v
        if isinstance(e_t, A.QVar):
            entity_vars.add(e_t.name[1:])
        attr = attr_of(a_t, subs)
        scan = db.triples if attr is None else db.by_attr.get(attr, [])
        new_bsets = []
        for b in bsets:
            cand = scan
            if attr is not None:  # probe on the bound entity, else value
                for pos, term in ((0, e_t), (2, v_t)):
                    k = _key(_bound(term, b, subs))
                    if k is not None:
                        cand = db.probe(attr, pos, k)
                        break
            for (te, ta, tv) in cand:
                b2 = _unify(b, e_t, te, subs)
                if b2 is not None and attr is None:
                    b2 = _unify(b2, a_t, ta, subs)
                if b2 is not None:
                    b2 = _unify(b2, v_t, tv, subs)
                if b2 is not None:
                    new_bsets.append(b2)
        bsets = new_bsets
        if not bsets:
            break

    for pred in preds:
        bsets = [b for b in bsets if _pred_ok(ip, pred, b, subs, env)]

    keep_db_id = bool(q.options.get("keepDBid"))
    out = []
    seen = set()
    for b in bsets:
        row = {}
        for k, v in b.items():
            if k == "_" or k.startswith("__r"):
                # '__r*' = fresh rule-internal qvars from expand_rule_calls;
                # rule scoping keeps them out of the binding set
                continue
            if not keep_db_id and (k in entity_vars or isinstance(v, Eid)):
                continue
            row[k] = v
        key = tuple(sorted((k, _hkey(v)) for k, v in row.items()))
        if key not in seen:  # set semantics of datalog results
            seen.add(key)
            out.append(row)
    return out


def _hkey(v):
    """Result dedup key, equal exactly when `_eq` is: `_key` for a scalar
    (1 meets 1.0, not true), else the value (`_eq` compares it by ==)."""
    k = _key(v)
    return (0, k) if k is not None else (1, _hashable(v))


def _unify(b: dict, term, val, subs) -> Optional[dict]:
    """`b` extended so that `term` matches `val`, or None."""
    want = _bound(term, b, subs)
    if want is _FREE:
        name = term.name[1:]
        return b if name == "_" else {**b, name: val}
    return b if want is not NEVER and _eq(want, val) else None


def _key(v):
    """Index key of a value, and what `_eq` compares: a number as float
    (1 == 1.0, and an Eid is a number), a bool apart from numbers, a string
    as itself; None for any other value, which is never probed."""
    if isinstance(v, bool):
        return (v,)
    if isinstance(v, (int, float)):
        return float(v)
    return v if isinstance(v, str) else None


def _eq(a, b) -> bool:
    ka, kb = _key(a), _key(b)
    return ka == kb and (ka is not None or a == b)


def _pred_ok(ip, pred: A.PredPattern, b: dict, subs, env) -> bool:
    from ..lang.values import truthy
    frame = {("?" + k): v for k, v in b.items()}
    frame.update({k: v for k, v in (subs or {}).items()})
    child = env.child(frame)
    try:
        return truthy(ip.eval(pred.call, child))
    except Exception:
        return False


def q_ident(ip, data):
    """Generate the identity query AST for arbitrary nested data
    (reference builtin.cljc:2264-2286). Returns a QueryFnV capturing all
    scalar values."""
    from ..lang.interp import QueryFnV, Env
    ecnt = [0]
    vcnt = [0]
    patterns: list = []

    def qi(obj, ename: Optional[str] = None):
        if not isinstance(obj, dict):
            return
        ecnt[0] += 1
        my_e = f"?e{ecnt[0]}"
        for k, v in obj.items():
            if isinstance(v, dict):
                child_e = f"?e{ecnt[0] + 1}"
                patterns.append(A.TriplePattern(None, A.QVar(my_e), A.Lit(":" + str(k)), A.QVar(child_e)))
                qi(v)
            elif isinstance(v, (list, JSeq)):
                vcnt[0] += 1
                patterns.append(A.TriplePattern(None, A.QVar(my_e), A.Lit(":" + str(k)), A.QVar(f"?v{vcnt[0]}")))
            else:
                vcnt[0] += 1
                patterns.append(A.TriplePattern(None, A.QVar(my_e), A.Lit(":" + str(k)), A.QVar(f"?v{vcnt[0]}")))

    qi(data if isinstance(data, dict) else (data[0] if isinstance(data, (list, JSeq)) and data else {}))
    return QueryFnV([], patterns, {}, Env({"$": NOMATCH, "$$": NOMATCH}))
