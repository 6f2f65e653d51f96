"""query{}/express{} on Spark tables: the datalog->DataFrame compiler."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from radmapper_spark.lang.interp import Interp


def test_two_table_join_counts(spark, tables):
    ip = Interp(spark)
    bsets = ip.run_raw(
        "query{[$o ?e :o_custkey ?ck] [$c ?cc :c_custkey ?ck] [$c ?cc :c_name ?n]}($o, $c)",
        bindings={"$o": tables["orders"], "$c": tables["customer"]})
    assert bsets.df.count() == tables["orders"].select("o_custkey").distinct().count()


def test_closure_attribute_var_matches_nothing(spark):
    """An attribute $var that is no query param (here a closure binding)
    names no attribute in either executor, on flat and nested data."""
    import json
    docs = [{"name": "Bob", "age": 30}, {"name": "Alice", "age": 25}]
    src = "( $a := 'name'; query{[?e $a ?v]}($d) )"
    flat = spark.createDataFrame([(d["name"], d["age"]) for d in docs], ["name", "age"])
    nested = spark.read.json(spark.sparkContext.parallelize(
        [json.dumps({**d, "kid": {"x": 1}}) for d in docs]))
    ip = Interp(spark)
    assert ip.run_raw(src, bindings={"$d": docs}) == []
    for df in (flat, nested):
        assert ip.run_raw(src, bindings={"$d": df}).df.collect() == []


def test_literal_filter_pushdown(spark, tables):
    ip = Interp(spark)
    bsets = ip.run_raw(
        "query{[?e :o_orderpriority '1-URGENT'] [?e :o_orderkey ?ok]}($o)",
        bindings={"$o": tables["orders"]})
    plan = bsets.df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" not in plan or "o_orderpriority" in plan
    want = tables["orders"].filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert bsets.df.count() == want


def test_parametric_query_spark(spark, tables):
    ip = Interp(spark)
    out = ip.run_raw(
        "( $q := query($prio){[?e :o_orderpriority $prio] [?e :o_orderkey ?ok]};"
        "  $q('5-LOW')($o) )",
        bindings={"$o": tables["orders"]})
    want = tables["orders"].filter(F.col("o_orderpriority") == "5-LOW").count()
    assert out.df.count() == want


def test_predicate_pattern_spark(spark, tables):
    ip = Interp(spark)
    out = ip.run_raw(
        "query{[?e :c_name ?n] [($contains(?n, '1'))]}($c)",
        bindings={"$c": tables["customer"]})
    want = tables["customer"].filter(F.col("c_name").contains("1")).count()
    assert out.df.count() == want


def test_regex_predicate_spark(spark, tables):
    ip = Interp(spark)
    out = ip.run_raw(
        "query{[?e :c_name ?n] [($match(?n, /0{2}$/))]}($c)",
        bindings={"$c": tables["customer"]})
    want = tables["customer"].filter(F.col("c_name").rlike("0{2}$")).count()
    assert out.df.count() == want


def test_express_reduce_spark_matches_local(spark):
    """The Spark groupBy cascade must produce the same document as the
    driver-side merge on identical binding sets."""
    bsets_rows = [
        {"ownerName": "owner1", "systemName": "system1", "id": 100, "status": "Ok"},
        {"ownerName": "owner1", "systemName": "system1", "id": 200, "status": "Ok"},
        {"ownerName": "owner1", "systemName": "system2", "id": 300, "status": "Ok"},
        {"ownerName": "owner2", "systemName": "system1", "id": 400, "status": "Ok"},
    ]
    src_express = ("express(){{'owners': [{'owner_id': key(?ownerName),"
                   " 'systems': [{'system_id': key(?systemName),"
                   " 'devices': [{'device_id': key(?id), 'status': ?status}]}]}]}}")
    ip = Interp(spark)
    efn = ip.run_raw(src_express)
    from radmapper_spark.operators.express_local import reduce_express
    local = reduce_express(ip, bsets_rows, efn)

    from radmapper_spark.operators.spark_bridge import SparkBindingSets
    df = spark.createDataFrame(bsets_rows)
    dist = reduce_express(ip, SparkBindingSets(df), efn)
    assert dist == local


def test_express_reduce_spark_qvar_map(spark):
    bsets_rows = [
        {"ownerName": "owner1", "id": 1}, {"ownerName": "owner2", "id": 2},
    ]
    ip = Interp(spark)
    efn = ip.run_raw("express{{'byOwner': {?ownerName: {'id': ?id}}}}")
    from radmapper_spark.operators.express_local import reduce_express
    from radmapper_spark.operators.spark_bridge import SparkBindingSets
    local = reduce_express(ip, bsets_rows, efn)
    dist = reduce_express(ip, SparkBindingSets(spark.createDataFrame(bsets_rows)), efn)
    assert dist == local == {"byOwner": {"owner1": {"id": 1}, "owner2": {"id": 2}}}


def test_keep_db_id_option(spark, tables):
    ip = Interp(spark)
    with_id = ip.run_raw(
        "query{[?e :r_name ?name]} <|keepDBid: true|> ($r)",
        bindings={"$r": tables["region"]})
    without = ip.run_raw(
        "query{[?e :r_name ?name]}($r)", bindings={"$r": tables["region"]})
    assert "e" in with_id.df.columns or len(with_id.df.columns) > len(without.df.columns)


def test_rule_splice_on_spark_table(spark, tables):
    """rule{} clauses spliced into a query{} running on a Spark table."""
    ip = Interp(spark)
    out = ip.run_raw(
        "( $urgent := rule{(urgent ?ok) [?e :o_orderpriority '1-URGENT']"
        "                               [?e :o_orderkey ?ok]};"
        "  query{[(urgent ?k)]}($o) )",
        bindings={"$o": tables["orders"]})
    want = tables["orders"].filter(
        F.col("o_orderpriority") == "1-URGENT").count()
    assert out.df.count() == want
    assert out.df.columns == ["k"]


def test_nested_spark_data_eav(spark):
    """query{} over a NESTED DataFrame goes through the EAV shred."""
    import json
    docs = [{"id": i, "child": {"val": f"v{i}"}} for i in range(4)]
    df = spark.read.json(spark.sparkContext.parallelize([json.dumps(d) for d in docs]))
    ip = Interp(spark)
    out = ip.run_raw("query{[?e :child ?c] [?c :val ?v]}($d)", bindings={"$d": df})
    vals = sorted(r["v"] for r in out.df.collect())
    assert vals == ["v0", "v1", "v2", "v3"]


def test_repeated_value_qvar_direct(spark):
    """query{[?e :a ?x] [?e :b ?x]} implies a = b — rows where the two
    attributes differ must be excluded (matches the local evaluator)."""
    rows = [(1, 1), (1, 2), (3, 3), (4, 5)]
    df = spark.createDataFrame(rows, ["a", "b"])
    ip = Interp(spark)
    out = ip.run_raw("query{[?e :a ?x] [?e :b ?x]}($d)", bindings={"$d": df})
    got = sorted(r["x"] for r in out.df.collect())
    local = ip.run_raw("query{[?e :a ?x] [?e :b ?x]}($d)",
                       bindings={"$d": [{"a": a, "b": b} for a, b in rows]})
    assert got == sorted(b["x"] for b in local) == [1, 3]


def test_repeated_value_qvar_eav(spark):
    """Same constraint through the EAV shred (nested source)."""
    import json
    docs = [{"a": 1, "b": 1, "nest": {"y": 0}}, {"a": 1, "b": 2, "nest": {"y": 0}},
            {"a": 7, "b": 7, "nest": {"y": 0}}]
    df = spark.read.json(spark.sparkContext.parallelize([json.dumps(d) for d in docs]))
    ip = Interp(spark)
    out = ip.run_raw("query{[?e :a ?x] [?e :b ?x]}($d)", bindings={"$d": df})
    assert sorted(r["x"] for r in out.df.collect()) == [1, 7]


def test_eav_typed_binding_values(spark):
    """Value bindings through the shred keep native types: a number must
    come back as a number, not the string '5.0'."""
    import json
    docs = [{"child": {"n": 5, "flag": True, "s": "hi"}}]
    df = spark.read.json(spark.sparkContext.parallelize([json.dumps(d) for d in docs]))
    ip = Interp(spark)
    out = ip.run_raw("query{[?e :child ?c] [?c :n ?v] [?c :flag ?f] [?c :s ?s]}($d)",
                     bindings={"$d": df})
    row = out.df.collect()[0]
    assert row["v"] == 5 and not isinstance(row["v"], str)
    assert row["f"] is True
    assert row["s"] == "hi"


def test_arbitrary_builtin_predicate_spark(spark, tables):
    """Predicates beyond the $match/$contains allowlist compile through the
    Column compiler ([($not($contains(?n,'1')))]-style)."""
    ip = Interp(spark)
    out = ip.run_raw(
        "query{[?e :c_name ?n] [($not($contains(?n, '1')))]}($c)",
        bindings={"$c": tables["customer"]})
    want = tables["customer"].filter(~F.col("c_name").contains("1")).count()
    assert out.df.count() == want


def test_uppercase_predicate_spark(spark, tables):
    ip = Interp(spark)
    out = ip.run_raw(
        "query{[?e :c_mktsegment ?s] [($contains($lowercase(?s), 'build'))]}($c)",
        bindings={"$c": tables["customer"]})
    want = tables["customer"].filter(
        F.lower(F.col("c_mktsegment")).contains("build")) \
        .select("c_mktsegment").distinct().count()
    assert out.df.count() == want


def test_nested_eav_sibling_struct_branches(spark):
    """Sibling nested branches must get distinct eids: a ref edge into the
    `left` branch must never join onto an entity from the `right` branch."""
    import json
    docs = [{"id": i, "left": {"val": f"L{i}"}, "right": {"val": f"R{i}"}}
            for i in range(4)]
    df = spark.read.json(spark.sparkContext.parallelize([json.dumps(d) for d in docs]))
    ip = Interp(spark)
    out = ip.run_raw("query{[?e :left ?l] [?l :val ?v]}($d)", bindings={"$d": df})
    vals = sorted(r["v"] for r in out.df.collect())
    assert vals == ["L0", "L1", "L2", "L3"]


def test_nested_eav_sibling_array_branches(spark):
    """Same for sibling array-of-struct branches, with multiple elements."""
    import json
    docs = [{"id": i,
             "xs": [{"v": f"x{i}.{j}"} for j in range(2)],
             "ys": [{"v": f"y{i}.{j}"} for j in range(3)]}
            for i in range(3)]
    df = spark.read.json(spark.sparkContext.parallelize([json.dumps(d) for d in docs]))
    ip = Interp(spark)
    out = ip.run_raw("query{[?e :xs ?x] [?x :v ?v]}($d)", bindings={"$d": df})
    vals = sorted(r["v"] for r in out.df.collect())
    assert vals == sorted(f"x{i}.{j}" for i in range(3) for j in range(2))


def test_express_reduce_driver_cap(spark, monkeypatch):
    """The driver-side document assembly must refuse to collect more
    top-key groups than MAX_REDUCE_DOCS and point at the distributed
    reduce_express_frame path instead."""
    from radmapper_spark.operators import express_spark
    from radmapper_spark.operators.express_local import reduce_express
    from radmapper_spark.operators.spark_bridge import SparkBindingSets
    rows = [{"ownerName": f"owner{i}", "id": i} for i in range(10)]
    ip = Interp(spark)
    efn = ip.run_raw(
        "express(){{'owner_id': key(?ownerName), 'id': ?id}}")
    monkeypatch.setattr(express_spark, "MAX_REDUCE_DOCS", 5)
    with pytest.raises(ValueError, match="reduce_express_frame"):
        reduce_express(ip, SparkBindingSets(spark.createDataFrame(rows)), efn)
    # under the cap: assembles normally
    monkeypatch.setattr(express_spark, "MAX_REDUCE_DOCS", 100)
    out = reduce_express(ip, SparkBindingSets(spark.createDataFrame(rows)), efn)
    assert len(out) == 10



# ======================== from test_round8.py (r14 consolidation) ========
import os
import subprocess
import sys
import pytest
from pyspark.sql import functions as F

def test_express_reduce_spill_path_roundtrip(spark, tmp_path, monkeypatch):
    """The >MAX_REDUCE_DOCS error message points at reduce_express_frame
    + a distributed write; prove that path actually round-trips: a
    corpus at 2x the cap flows through the frame plan and a JSONL sink,
    and reads back as exactly the documents the driver path assembles
    when uncapped."""
    import json

    from radmapper_spark.lang.interp import Interp
    from radmapper_spark.operators import express_spark
    from radmapper_spark.operators.express_local import reduce_express
    from radmapper_spark.operators.express_spark import reduce_express_frame
    from radmapper_spark.operators.spark_bridge import SparkBindingSets
    from radmapper_spark.sources.writers import write_result

    rows = [{"ownerName": f"owner{i:02d}", "id": i} for i in range(10)]
    ip = Interp(spark)
    efn = ip.run_raw("express(){{'owner_id': key(?ownerName), 'id': ?id}}")
    bsets = SparkBindingSets(spark.createDataFrame(rows))

    monkeypatch.setattr(express_spark, "MAX_REDUCE_DOCS", 5)
    with pytest.raises(ValueError, match="reduce_express_frame"):
        reduce_express(ip, bsets, efn)

    # the advertised alternative: document-per-row frame -> JSONL sink
    frame = reduce_express_frame(ip, bsets, efn)
    out = str(tmp_path / "docs_jsonl")
    write_result(frame, out, fmt="json")
    got = [json.loads(line)["doc"]
           for p in sorted(os.listdir(out)) if p.endswith(".json")
           for line in open(os.path.join(out, p))]
    got.sort(key=lambda d: d["owner_id"])

    monkeypatch.setattr(express_spark, "MAX_REDUCE_DOCS", 100000)
    want = reduce_express(ip, bsets, efn)
    assert got == want
