"""Web preprocessing operators (operators/web.py): extraction rules,
URL canonicalization edge cases, and the map-only plan locks."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from radmapper_spark.operators import web


def _extract_one(spark, html):
    df = spark.createDataFrame([(1, html)], "id long, html string")
    return web.html_extract(df).collect()[0]


def test_html_extract_rules(spark):
    r = _extract_one(spark, (
        "<html><head><style>p { color: red }</style>"
        "<script>var x = 'five words but still script.';</script>"
        "</head><body>"
        "<p>This perfectly ordinary sentence has enough words.</p>"
        "<p>Too short here.</p>"
        "<div><a href='/a'>a</a> <a href='/b'>b</a> link menu row "
        "here.</div>"
        "<p>We value your privacy and use cookie banners today.</p>"
        "<p>A line with no terminal punctuation at all</p>"
        "<p>Entities decode: fish &amp; chips &lt;tag&gt; "
        "&quot;quoted&quot; fine.</p>"
        "</body></html>"))
    lines = r["extracted_text"].split("\n")
    assert lines == [
        "This perfectly ordinary sentence has enough words.",
        'Entities decode: fish & chips <tag> "quoted" fine.',
    ]
    assert r["n_lines_kept"] == 2
    # total counts every non-empty stripped line (6 content lines; the
    # script/style bodies were removed before line splitting)
    assert r["n_lines_total"] == 6


def test_html_extract_null_and_empty(spark):
    df = spark.createDataFrame([(1, None), (2, "")],
                               "id long, html string")
    rows = {r["id"]: r for r in web.html_extract(df).collect()}
    for i in (1, 2):
        assert rows[i]["extracted_text"] == ""
        assert rows[i]["n_lines_kept"] == 0
        assert rows[i]["n_lines_total"] == 0


def test_html_extract_multiline_script(spark):
    """(?s) must reach across newlines inside script/style blocks."""
    r = _extract_one(spark, (
        "<script>\nvar a = 1;\nvar b = 2;\n</script>"
        "<p>Real content sentence with enough words kept.</p>"))
    assert r["extracted_text"] == \
        "Real content sentence with enough words kept."
    assert r["n_lines_total"] == 1


def _canon_one(spark, url):
    df = spark.createDataFrame([(1, url)], "id long, url string")
    r = web.canonicalize_urls(df).collect()[0]
    return r["canonical_url"], r["host"]


def test_url_canonicalize_cases(spark):
    cases = {
        # case, default port, fragment, param sort
        "HTTPS://WWW.Example.COM:443/A/b?z=1&a=2#frag":
            ("https://example.com/A/b?a=2&z=1", "example.com"),
        # http default port; trailing slash; tracking params dropped
        "http://example.com:80/x/?utm_source=a&gclid=1&b=1":
            ("http://example.com/x?b=1", "example.com"),
        # bare host -> root path; empty query dropped
        "https://Example.com?":
            ("https://example.com/", "example.com"),
        # ref is tracking; REF inside a value is not
        "https://a.com/p?ref=spam&q=ref=keep":
            ("https://a.com/p?q=ref=keep", "a.com"),
        # :8080 is NOT a default port — kept
        "https://a.com:8080/p": ("https://a.com:8080/p", "a.com:8080"),
        # utm_ prefix family
        "https://a.com/p?utm_campaign=x&utm_medium=y&k=v":
            ("https://a.com/p?k=v", "a.com"),
        # a '?' that appears only INSIDE the fragment is NOT a query —
        # the fragment is stripped first (r15 fix of the r14 advice:
        # the old whole-string query regex canonicalized this to
        # https://h.com/p?x=1)
        "https://h.com/p#sec?x=1": ("https://h.com/p", "h.com"),
        # real query, then a fragment that itself contains '?'
        "https://h.com/p?a=1#frag?b=2":
            ("https://h.com/p?a=1", "h.com"),
    }
    for raw, want in cases.items():
        assert _canon_one(spark, raw) == want, raw


def test_url_schemeless_is_null(spark):
    assert _canon_one(spark, "example.com/path") == (None, None)
    assert _canon_one(spark, "not a url at all") == (None, None)


def test_web_ops_map_only_plan(spark):
    """Both operators must add NO exchange — free projections fused
    into the scan at crawl scale."""
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("<p>x words here fine ok.</p>")).alias("html"),
        F.concat(F.lit("https://h"), F.col("id").cast("string"),
                 F.lit(".com/p?a=1")).alias("url"))
    p1 = (web.html_extract(df)._jdf.queryExecution().executedPlan()
          .toString())
    p2 = (web.canonicalize_urls(df)._jdf.queryExecution().executedPlan()
          .toString())
    assert "Exchange" not in p1
    assert "Exchange" not in p2


def test_synth_twin_on_degenerate_texts(spark):
    """r14 review (confirmed by execution): DuckDB's array_to_string of
    an EMPTY list is NULL, so a <= 1-word document NULLed the entire
    synthesized page in the oracle while Spark built a full one, and a
    zero-kept document yielded NULL extracted_text instead of ''. The
    fixture corpora never hit either (>= 40 words per doc), so the twin
    is pinned here on the degenerate texts directly."""
    import duckdb

    rows = [(1, "word", "en", "src0"),        # one word: empty part2
            (2, "", "en", "src1"),            # empty text
            (3, None, "en", "src2"),          # NULL text
            (4, "two words", "en", "src3")]
    df = spark.createDataFrame(rows,
                               "doc_id long, text string, lang string, "
                               "source string")
    synth = df.select("doc_id", web.synth_html(
        F.col("doc_id"), F.col("text"), F.col("source")).alias("html"))
    got = web.html_extract(synth).select(
        "doc_id", "extracted_text", "n_lines_kept", "n_lines_total")
    srows = sorted(tuple(str(x) for x in r) for r in got.collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
                "lang VARCHAR, source VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?)", rows)
    e = web.duck_html_extract_exprs(web.duck_synth_html_expr())
    orows = sorted(tuple(str(x) for x in r) for r in con.execute(
        f"SELECT doc_id, {e['extracted_text']} AS t, "
        f"{e['n_lines_kept']} AS k, {e['n_lines_total']} AS n "
        f"FROM documents").fetchall())
    assert srows == orows
    # and the result is NOT degenerate: both content paragraphs stay
    # kept for every doc (the ' extracted content line one <id>.'
    # suffix keeps the line above the word floor even with no text)
    assert all(r[2] == "2" for r in srows), srows


def test_extract_zero_kept_is_empty_string_both_engines(spark):
    import duckdb

    df = spark.createDataFrame([(1, "<p>short.</p>")],
                               "id long, html string")
    r = web.html_extract(df).collect()[0]
    assert r["extracted_text"] == "" and r["n_lines_kept"] == 0
    e = web.duck_html_extract_exprs("'<p>short.</p>'")
    got = duckdb.connect().execute(
        f"SELECT {e['extracted_text']}, {e['n_lines_kept']}").fetchall()
    assert got == [("", 0)]


@pytest.mark.parametrize("head_fn", ["_pipeline_crawl_joined",
                                     "_stream_crawl_joined"])
def test_crawl_head_plan_shape(spark, head_fn):
    """Both crawl heads must stay in the decide-narrow / attach-payload
    shape (guide §8): the two window exchanges (URL dedup, host cap)
    run over a DECISION scan that reads ONLY doc_id (the url is
    synthesized from it), and the text payload is attached to the
    capped survivors by one doc_id equi-join against a second scan.
    Asserted on the LAZY pre-barrier frame (the entries checkpoint it —
    r18 structural barrier, _pipeline_crawl_joined docstring)."""
    import re

    from radmapper_spark import entrypoints as ep
    df = getattr(ep, head_fn)(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_ex == 2, f"expected 2 window exchanges, found {n_ex}"
    n_scans = plan.count("documents.parquet")
    assert n_scans == 2, f"expected 2 documents scans, found {n_scans}"
    # the decision side reads doc_id only — the whole point of the
    # narrow-window restructure; text/source ride the payload scan
    m = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert any(s == "doc_id:bigint" for s in m), m
    # the join is a BARE equi-join: no gate fragments anywhere in the
    # head plan (the r17 OR-pin inlined the ~200 KB gate expression
    # into the join condition; the r18 barrier removes it). NOTE
    # array_sort appears legitimately in canonicalize_urls' param
    # sort, so the gate absence is probed via its gopher columns and
    # the scan blocks' pushed filters staying trivial.
    assert "gopher" not in plan
    scan_blocks = plan.split("Scan parquet")
    for blk in scan_blocks[1:]:
        head = blk[:800]
        assert "array_sort" not in head, head
    assert len(plan) < 50_000, f"head plan blew up: {len(plan)} chars"


@pytest.mark.parametrize("entry", ["pipeline_web_crawl",
                                   "stream_crawl_ingest"])
def test_crawl_entry_gate_above_barrier(spark, entry):
    """The entry's own plan must show the extraction+Gopher gate as a
    plain Filter chain above the checkpoint leaf (Scan ExistingRDD):
    no join below the gate (so nothing to push it through), no window
    exchange above the barrier, no Python eval, and the gate evaluated
    ONCE (a single gopher_pass filter, not a join-condition copy)."""
    import re

    from radmapper_spark import entrypoints as ep
    df = ep.ENTRIES[entry][0](spark, "/root/testdata/sf0.001")
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan, plan[:500]
        assert "Join" not in plan, "a join re-appeared above the barrier"
        assert "Exchange" not in plan, "exchange above the barrier"
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        # parquet scans live below the barrier (executed at
        # construction), so none may appear in the entry plan
        assert "Scan parquet" not in plan
        # the admission filters must be TRIVIAL column references over
        # the materialized gate columns — an extraction/gopher
        # expression re-inlined above the leaf blows the plan text
        # back up to ~200 KB (the r17 stringify tax)
        assert "gopher_pass" in plan
        assert len(plan) < 20_000, f"entry plan blew up: {len(plan)}"
    finally:
        df.rm_release_cache()


def test_pipeline_web_crawl_cap_and_floor_bite(spark):
    """Both governors are non-vacuous at the smallest fixture — proven
    by STAGE-TO-STAGE counts, not by post-filter properties that hold
    by construction (the r13 'vacuous assert' class): the deduped set
    over-fills every host so the cap cuts to exactly hosts x 10, and
    the token floor then removes more rows."""
    from pyspark.sql import Window, functions as F

    from radmapper_spark import entrypoints as ep
    from radmapper_spark.operators import sampling, web
    from radmapper_spark.session import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    canon = web.canonicalize_urls(
        docs.select("doc_id", web.synth_url(F.col("doc_id")).alias("url")))
    w = Window.partitionBy("canonical_url").orderBy(F.col("doc_id").asc())
    first = (canon.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1))
    per_host = [r[0] for r in first.groupBy("host").count()
                .select("count").collect()]
    assert min(per_host) > 10, "cap would be vacuous: under-filled host"
    n_hosts = len(per_host)
    capped_n = sampling.cap_per_group(first, "host", "doc_id", 10).count()
    assert capped_n == n_hosts * 10  # the cap actually cut every host
    out = ep.pipeline_web_crawl(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert 0 < len(rows) < capped_n  # the token floor cut further
    # the dedup stage kept one doc per canonical url
    assert (out.groupBy("canonical_url").count()
            .filter(F.col("count") > 1).count()) == 0


def test_web_twins_on_adversarial_strings(spark):
    """Engine parity on inputs nastier than the fixture synthesis:
    quotes, regex metacharacters, entities, unicode — the Spark
    operator and the DuckDB twin expressions must agree exactly."""
    rows = [
        (1, "<p>Backslash \\ and 'quotes' plus (parens) stay fine.</p>",
         "https://A.com/p%20q?b=%26&a=1#x"),
        (2, "<p>Unicode café naïve résumé words "
            "here.</p>", "https://café.com/é?x=é"),
        (3, "<p>a &amp;lt; double-encoded entity survives once.</p>",
         "http://h.com:80:80/p"),
        (4, "<p>dots . inside ! the line stay? kept.</p>",
         "https://h.com//double//slash//"),
        # '?' only inside the fragment (the r14-advice case) — both
        # engines must agree on the FIXED semantics, not merely agree
        (5, "<p>Fragment question marks must not become queries.</p>",
         "https://h.com/p#sec?x=1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string, url string")
    got = web.html_extract(df)
    got = web.canonicalize_urls(got).select(
        "doc_id", "extracted_text", "n_lines_kept", "n_lines_total",
        "canonical_url", "host")
    srows = sorted(tuple(str(x) for x in r) for r in got.collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, html VARCHAR, "
                "url VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    e = web.duck_html_extract_exprs("html")
    c = web.duck_canonicalize_exprs("url")
    sql = (f"SELECT doc_id, {e['extracted_text']} AS extracted_text, "
           f"{e['n_lines_kept']} AS n_lines_kept, "
           f"{e['n_lines_total']} AS n_lines_total, "
           f"{c['canonical_url']} AS canonical_url, {c['host']} AS host "
           f"FROM t")
    orows = sorted(tuple(str(x) for x in r)
                   for r in con.execute(sql).fetchall())
    assert srows == orows


def test_gopher_rules_each_fire_and_twin_agrees(spark):
    """One hand-built casualty per Gopher rule (plus clean passes and
    boundary-exact cases) through gopher_quality AND the DuckDB twin —
    per-rule booleans, not just the conjunction, must match."""
    stop_tail = " of the data and that will have with more here now."
    # VARIED clean prose (numbered words, no repeated grams) — the r16
    # repetition rules correctly fail the old `"science " * 60` fixture
    # (a 60x-repeated unigram IS maximal 2-gram coverage)
    clean = " ".join(f"alpha{i} beta{i} gamma{i}"
                     for i in range(20)) + stop_tail
    rep_word = " ".join(f"word{i}" for i in range(48))
    rows = [
        (1, clean),                                     # passes all
        (2, "Too short." + stop_tail),                  # ok_words lo
        (3, " ".join(f"w{i}" for i in range(100_001))
            + stop_tail),                               # ok_words hi
        (4, ("a b " * 40).strip() + " of the"),         # mwl low
        (5, ("abcdefghijklmnop " * 60).strip() + " of the"),  # mwl high
        (6, clean + " " + "#" * 20),                    # symbol (hash)
        (7, clean + " " + "... " * 20),                 # symbol (ellipsis)
        (8, "\n".join(["- the data of and that have with more line."]
                      * 10)),                           # bullets > 90%
        (9, clean + "\nwait for it...\nmore soon..."),  # ellipsis lines
        (10, " ".join(f"1234{i}" for i in range(60))
             + stop_tail),                              # alpha < 80%
        (11, " ".join(f"science{i}" for i in range(60))
             + " here now."),                           # stopwords < 2
        (12, None),                                     # NULL text
        # boundary-exact: exactly 50 words incl. two stopwords -> pass
        (13, rep_word + " of the"),
        # Unicode '…' spam must fail the SYMBOL rule too (r15 review:
        # the line rule saw '…' but the symbol counter only counted
        # ASCII '...' — both engines shared the gap)
        (14, clean + " " + "… " * 20),
        # ---- repetition rules (r16): one casualty each
        (15, web._REP_DUP_LINE_BLOCK),                  # dup lines
        (16, web._REP_DUP_PARA_BLOCK),                  # dup paras
        (17, web._REP_TOP2_BLOCK),                      # top 2-gram
        (18, web._REP_TOP3_BLOCK),                      # top 3-gram
        (19, web._REP_TOP4_BLOCK),                      # top 4-gram
        # boundary-exact dup-line fraction: 3 dup lines of 10 = 0.30
        # exactly passes; 4 of 12 (0.33) fails
        (20, "\n".join([web._REP_DUP_LINE] * 4
                       + [f"filler{u} line{u} with{u} many{u} words{u} "
                          f"here{u} now{u}." for u in range(6)])),
        (21, "\n".join([web._REP_DUP_LINE] * 5
                       + [f"filler{u} line{u} with{u} many{u} words{u} "
                          f"here{u} now{u}." for u in range(7)])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out_cols = ["doc_id", "n_words", "n_lines", "ok_words",
                "ok_mean_word_len", "ok_symbol_ratio", "ok_bullet_lines",
                "ok_ellipsis_lines", "ok_alpha_words", "ok_stopwords",
                "ok_dup_lines", "ok_dup_paras", "ok_top2gram",
                "ok_top3gram", "ok_top4gram", "gopher_pass"]
    got = {r["doc_id"]: r.asDict() for r in
           web.gopher_quality(df).select(*out_cols).collect()}

    # rule-by-rule expectations (the doc that fails each rule)
    assert got[1]["gopher_pass"] and got[13]["gopher_pass"]
    assert not got[2]["ok_words"] and not got[3]["ok_words"]
    assert not got[4]["ok_mean_word_len"]
    assert not got[5]["ok_mean_word_len"]
    assert not got[6]["ok_symbol_ratio"]
    assert not got[7]["ok_symbol_ratio"]
    assert not got[8]["ok_bullet_lines"]
    assert not got[9]["ok_ellipsis_lines"]
    assert not got[10]["ok_alpha_words"]
    assert not got[11]["ok_stopwords"]
    assert not got[12]["ok_words"] and not got[12]["gopher_pass"]
    assert not got[14]["ok_symbol_ratio"]
    assert not got[15]["ok_dup_lines"]
    assert not got[16]["ok_dup_paras"]
    # the gram casualties are ISOLATED: each fails exactly its own k
    for i, failing in ((17, "ok_top2gram"), (18, "ok_top3gram"),
                       (19, "ok_top4gram")):
        for k in ("ok_top2gram", "ok_top3gram", "ok_top4gram"):
            assert got[i][k] == (k != failing), (i, k)
    # dup-line boundary: exactly 3/10 passes, 4/11 (> 0.30) fails
    assert got[20]["ok_dup_lines"] and not got[21]["ok_dup_lines"]
    # every casualty fails the conjunction
    for i in range(2, 20):
        if i == 13:
            continue
        assert not got[i]["gopher_pass"], i

    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    e = web.duck_gopher_exprs("text")
    sql = ("SELECT doc_id, " +
           ", ".join(f"{e[c]} AS {c}" for c in out_cols[1:]) +
           " FROM t")
    orows = sorted(tuple(str(x) for x in r)
                   for r in con.execute(sql).fetchall())
    srows = sorted(tuple(str(r[c]) for c in out_cols)
                   for r in got.values())
    assert srows == orows


def test_pipeline_crawl_to_shards_plan_shape(spark):
    """The full crawl->shards composition: the crawl+dedup subtree is
    computed ONCE behind a LOCALLY CHECKPOINTED frame that both the
    admission scorer and the semi-join probe reference (r15 review:
    the lazy form instantiated the whole extract chain twice — the
    r12 NB lazy-one-shot bug class; r17: persist -> localCheckpoint
    so the tail plans/ships a LogicalRDD leaf instead of re-walking
    the crawl head's ~200 KB expression tree at every AQE update —
    OPTIMIZATION_r17.md change 5). The optimized plan holds exactly
    TWO parquet relations (one per NB training class) plus TWO
    LogicalRDD references to the one checkpoint, zero
    InMemoryRelation. Zero Python eval nodes, no single-partition
    exchange, no global sort — every shuffle on a bounded key
    (norm_hash already materialized; token word, doc_id)."""
    import re

    from radmapper_spark import entrypoints as ep

    df = ep.ENTRIES["pipeline_crawl_to_shards"][0](
        spark, "/root/testdata/sf0.001")
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        # exchange cap: the tail above the checkpoint leaf holds only
        # the NB training aggregate, the admission aggregate and the
        # semi-join — far fewer printed nodes than the pre-r17 cap of
        # 35 (the InMemoryRelation child chain no longer re-prints)
        ex = re.findall(r"Exchange \w+", plan)
        assert len(ex) <= 12, (len(ex), ex)
        assert "SinglePartition" not in plan
        assert "rangepartitioning" not in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        n_rel = len(re.findall(r"Relation.*parquet", opt))
        assert n_rel == 2, f"{n_rel} parquet relations (want 2)"
        assert opt.count("InMemoryRelation") == 0, "persist came back?"
        n_rdd = len(re.findall(r"LogicalRDD", opt))
        assert n_rdd == 2, f"{n_rdd} LogicalRDD refs (want 2)"
        # and the result is non-trivial at the smallest SF
        rows = df.collect()
        assert len(rows) > 0
        assert ({r["shard"] for r in rows} != {rows[0]["shard"]}
                or len(rows) < 4)
    finally:
        df.rm_release_cache()
