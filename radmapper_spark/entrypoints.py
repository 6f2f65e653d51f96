"""Driver-facing query entries: one per implemented SURVEY.md §2 operator
family (plus the training-data extensions). Each entry is
(spark, sf_dir) -> DataFrame paired with a DuckDB oracle SQL where the
semantics are ANSI-SQL-expressible; hash-seeded operators (minhash/simhash/
LSH) get rows-only checks.

Float discipline for oracle equality: sums go through DECIMAL(18,2);
doubles surfaced to the driver are rounded identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import headline
from .lang.interp import Interp
from .operators import (decontam, dedup, multimodal, similarity, temporal,
                        textstats, tokenizer, web)
from .session import load_tables, memo, release_memos
from .streaming import windows as W

DEC = "decimal(18,2)"


def _carry_release(src: DataFrame, out: DataFrame) -> DataFrame:
    """Entry projections build NEW DataFrame objects, which would drop the
    `rm_release_cache` handle an operator attached — re-attach it so the
    bench/driver can unpersist operator caches after each run."""
    release = getattr(src, "rm_release_cache", None)
    if release is not None:
        out.rm_release_cache = release
    return out

LANGS = sorted(textstats.LANG_PROFILES.keys())  # de, en, es, fr


def _sql_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in textstats.LANG_PROFILES[lang])
    return (f"len(list_intersect(list_distinct(string_split_regex(trim(lower(text)),"
            f" '\\s+')), [{words}]))")


# =============================================================== RM-language

def rm_datalog_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query{} over two Spark tables -> equi-join binding sets (SURVEY §2.3).
    Runs through the full engine: parse -> datalog plan -> DataFrame joins."""
    t = load_tables(spark, sf_dir)
    ip = Interp(spark)
    src = """
    ( $q := query{[$o ?e :o_custkey      ?ck]
                  [$o ?e :o_orderkey     ?ok]
                  [$o ?e :o_totalprice   ?tp]
                  [$o ?e :o_orderpriority '1-URGENT']
                  [$c ?c :c_custkey      ?ck]
                  [$c ?c :c_name         ?name]};
      $q($o, $c) )
    """
    bsets = ip.run_raw(src, bindings={"$o": t["orders"], "$c": t["customer"]})
    return bsets.df


def rm_datalog_join_sql() -> str:
    return """
    SELECT DISTINCT o_custkey AS ck, c_name AS name, o_orderkey AS ok, o_totalprice AS tp
    FROM orders JOIN customer ON c_custkey = o_custkey
    WHERE o_orderpriority = '1-URGENT'
    """


def rm_qvar_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pattern query + qvar projection (stays a lazy Spark plan)."""
    t = load_tables(spark, sf_dir)
    ip = Interp(spark)
    bsets = ip.run_raw("query{[?e :c_mktsegment ?seg]}($c)",
                       bindings={"$c": t["customer"]})
    return bsets.df


def rm_qvar_project_sql() -> str:
    return "SELECT DISTINCT c_mktsegment AS seg FROM customer"


def rm_eav_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-wildcard query [?e ?attr ?val] over region via the EAV melt
    (SURVEY §2.4)."""
    t = load_tables(spark, sf_dir)
    ip = Interp(spark)
    bsets = ip.run_raw("query{[?e ?attr ?val]}($r)", bindings={"$r": t["region"]})
    return bsets.df


def rm_eav_wildcard_sql() -> str:
    return """
    SELECT DISTINCT attr, val FROM (
        SELECT 'r_regionkey' AS attr, (r_regionkey::DOUBLE)::VARCHAR AS val FROM region
        UNION ALL
        SELECT 'r_name' AS attr, r_name AS val FROM region
    )
    """


def rm_express_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$map(bsets, express{...}) over a binding-set DataFrame: one nested
    document per row, as a pure projection (SURVEY §2.6). The JSON
    serialization of each document is the oracle-comparable value."""
    t = load_tables(spark, sf_dir)
    ip = Interp(spark)
    out = ip.run_raw(
        "( $bsets := query{[?e :c_custkey ?id] [?e :c_name ?name] [?e :c_mktsegment ?seg]}($c);"
        "  $map($bsets, express{{'customer': {'id': key(?id), 'name': ?name, 'segment': ?seg}}}) )",
        bindings={"$c": t["customer"]})
    return out.select(F.to_json(F.col("doc")).alias("doc"))


def rm_express_map_sql() -> str:
    return """
    SELECT DISTINCT to_json(struct_pack(customer := struct_pack(
        id := c_custkey, name := c_name, segment := c_mktsegment)))::VARCHAR AS doc
    FROM customer
    """


def rm_express_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """$reduce(bsets, express{...}): the groupBy cascade assembling one
    nested document (segments -> customers), uncollected. The entry emits
    a CANONICAL JSON serialization (map keys sorted) so the one-row doc is
    oracle-comparable; map_from_entries order is shuffle-dependent."""
    from .operators.express_spark import reduce_express_frame
    from .operators.spark_bridge import SparkBindingSets
    t = load_tables(spark, sf_dir)
    ip = Interp(spark)
    bsets = ip.run_raw(
        "query{[?e :c_custkey ?id] [?e :c_name ?name] [?e :c_mktsegment ?seg]}($c)",
        bindings={"$c": t["customer"]})
    efn = ip.run_raw(
        "express{{'segments': {?seg: {'customers': [{'id': key(?id), 'name': ?name}]}}}}")
    doc = reduce_express_frame(ip, bsets, efn)
    segs = F.col("doc").getField("segments")
    entries = F.transform(
        F.array_sort(F.map_keys(segs)),
        lambda k: F.concat(F.lit('"'), k, F.lit('":'),
                           F.to_json(F.element_at(segs, k))))
    return doc.select(F.concat(F.lit('{"segments":{'),
                               F.array_join(entries, ","),
                               F.lit("}}")).alias("doc"))


def rm_express_reduce_sql() -> str:
    return """
    WITH per_seg AS (
        SELECT c_mktsegment AS seg,
               '"' || c_mktsegment || '":' || to_json(struct_pack(
                   customers := list(struct_pack(id := c_custkey, name := c_name)
                                     ORDER BY c_custkey)))::VARCHAR AS entry
        FROM customer GROUP BY c_mktsegment)
    SELECT '{"segments":{' || string_agg(entry, ',' ORDER BY seg) || '}}' AS doc
    FROM per_seg
    """


def rm_nested_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pillar-1 at table scale: reconstruct nested order documents
    (order -> lines) with one groupBy, then run an RM path expression over
    every document via the Column compiler — pure Catalyst expressions, no
    Python per row (SURVEY §4.3; FIXTURES.md F1-at-scale)."""
    from .lang.columns import rm_column
    t = load_tables(spark, sf_dir)
    nested = (
        t["lineitem"].groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list(F.struct(
            F.col("l_linenumber").alias("ln"),
            F.col("l_quantity").alias("qty"),
            F.col("l_extendedprice").alias("price")))).alias("lines"))
    )
    total = rm_column(nested, "$sum(lines.(qty * price))")
    nlines = rm_column(nested, "$count(lines.price)")
    first_qty = rm_column(nested, "lines[0].qty")
    return nested.select(
        F.col("l_orderkey").alias("ok"), total.alias("doc_total"),
        nlines.alias("n_lines"), first_qty.alias("first_qty"))


def rm_nested_docs_sql() -> str:
    # list_reduce = the same left fold the Column compiler emits, over the
    # identically ordered line list -> bit-exact doubles
    return """
    SELECT l_orderkey AS ok,
        list_reduce(list(l_quantity * l_extendedprice
            ORDER BY l_linenumber, l_quantity, l_extendedprice), (a,b) -> a+b) AS doc_total,
        count(*) AS n_lines,
        first(l_quantity ORDER BY l_linenumber, l_quantity, l_extendedprice) AS first_qty
    FROM lineitem GROUP BY l_orderkey
    """


def rm_table_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RM path sublanguage (SURVEY §2.2) running END-TO-END over a
    Spark table: filter-step -> map-step, both compiled through the
    Column compiler into one pushed-down, column-pruned plan (no driver
    row loop). The program is literally
    ``$db($events)[event_type = 'purchase'].(value * 2 + 1)``."""
    ev = load_tables(spark, sf_dir)["events"]
    ip = Interp(spark)
    out = ip.run_raw("$db($e)[event_type = 'purchase'].(value * 2 + 1)",
                     bindings={"$e": ev})
    return out.df.select(F.round(F.col("value"), 6).alias("value"))


def rm_table_paths_sql() -> str:
    return """
    SELECT round(value * 2 + 1, 6) AS value FROM events
    WHERE event_type = 'purchase'
    """


# =============================================================== scalar fns

def rm_scalar_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 scalar functions EXECUTED THROUGH THE RM LANGUAGE: each column
    below is an RM expression compiled to a Catalyst Column (lang/columns),
    not hand-written Spark."""
    from .lang.columns import rm_select
    t = load_tables(spark, sf_dir)
    return rm_select(
        t["customer"],
        ck="c_custkey",
        up="$uppercase(c_name)",
        lo="$lowercase(c_mktsegment)",
        sub="$substring(c_name, 0, 8)",
        ln="$length(c_name)",
        cat="c_name & '|' & c_mktsegment",
        bal2="$floor($abs(c_acctbal) / 2)",
        sq="$round($sqrt($abs(c_acctbal) + 1), 6)",
    )


def rm_scalar_battery_sql() -> str:
    return """
    SELECT c_custkey AS ck, upper(c_name) AS up, lower(c_mktsegment) AS lo,
        substring(c_name, 1, 8) AS sub, length(c_name) AS ln,
        c_name || '|' || c_mktsegment AS cat,
        floor(abs(c_acctbal) / 2)::BIGINT AS bal2,
        round(sqrt(abs(c_acctbal) + 1), 6) AS sq
    FROM customer
    """


def string_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 string functions at table scale (Column twins of the builtins)."""
    t = load_tables(spark, sf_dir)
    c = t["customer"]
    return c.select(
        F.col("c_custkey").alias("ck"),
        F.upper(F.col("c_name")).alias("up"),
        F.lower(F.col("c_mktsegment")).alias("lo"),
        F.substring(F.col("c_name"), 1, 8).alias("sub"),
        F.length(F.col("c_name")).alias("len"),
        F.regexp_replace(F.col("c_name"), "Customer", "C").alias("repl"),
        F.lpad(F.col("c_mktsegment"), 12, "*").alias("pad"),
        F.concat_ws("|", F.col("c_name"), F.col("c_mktsegment")).alias("cat"),
        F.when(F.col("c_name").contains("1"), 1).otherwise(0).alias("has1"),
        F.substring_index(F.col("c_name"), "#", -1).alias("after_hash"),
    )


def string_battery_sql() -> str:
    return """
    SELECT c_custkey AS ck, upper(c_name) AS up, lower(c_mktsegment) AS lo,
        substring(c_name, 1, 8) AS sub, length(c_name) AS len,
        regexp_replace(c_name, 'Customer', 'C', 'g') AS repl,
        lpad(c_mktsegment, 12, '*') AS pad,
        c_name || '|' || c_mktsegment AS cat,
        CASE WHEN contains(c_name, '1') THEN 1 ELSE 0 END AS has1,
        CASE WHEN contains(c_name, '#') THEN split_part(c_name, '#', -1) ELSE c_name END AS after_hash
    FROM customer
    """


def numeric_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 numeric functions at table scale."""
    t = load_tables(spark, sf_dir)
    # deterministic 1-in-10 slice: the battery exercises every numeric fn
    # on real data without hauling the full lineitem through the
    # comparator (600k collected rows dominated the sf0.1 bench time)
    li = t["lineitem"].filter(F.pmod(F.col("l_orderkey"), 10) == 0)
    return li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.abs(F.col("l_discount") - F.lit(0.05)).alias("absd"),
        F.ceil(F.col("l_quantity") / 7).cast("bigint").alias("ceil7"),
        F.floor(F.col("l_quantity") / 7).cast("bigint").alias("floor7"),
        F.round(F.sqrt(F.col("l_extendedprice")), 6).alias("sq"),
        F.round(F.pow(F.col("l_tax") + 1, 2), 6).alias("pw"),
        F.pmod(F.col("l_orderkey"), 97).cast("bigint").alias("md"),
    )


def numeric_battery_sql() -> str:
    return """
    SELECT l_orderkey AS ok, l_linenumber AS ln,
        abs(l_discount - 0.05) AS absd,
        ceil(l_quantity / 7)::BIGINT AS ceil7,
        floor(l_quantity / 7)::BIGINT AS floor7,
        round(sqrt(l_extendedprice), 6) AS sq,
        round(pow(l_tax + 1, 2), 6) AS pw,
        (l_orderkey % 97)::BIGINT AS md
    FROM lineitem WHERE l_orderkey % 10 = 0
    """


def rm_datetime_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 datetime functions through the RM Column compiler over the
    events stream: $toMillis / $fromMillis with an XPath picture."""
    from .lang.columns import rm_select
    t = load_tables(spark, sf_dir)
    return rm_select(
        t["events"],
        id="event_id",
        ms="$toMillis(ts)",
        day="$fromMillis($toMillis(ts), '[Y0001]-[M01]-[D01]')",
        hour="$fromMillis($toMillis(ts), '[H01]')",
    )


def rm_datetime_ops_sql() -> str:
    return """
    SELECT event_id AS id,
        epoch_ms(ts::TIMESTAMP)::BIGINT AS ms,
        strftime(ts::TIMESTAMP, '%Y-%m-%d') AS day,
        strftime(ts::TIMESTAMP, '%H') AS hour
    FROM events
    """


# =============================================================== dedup

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (dedup.exact_dedup(t["documents"])
            .select("keep_id", "n_copies"))


def dedup_exact_sql() -> str:
    return """
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents
    GROUP BY regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')
    """


def dedup_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard on same-source candidate pairs (the
    SQL-checkable twin of the n-gram stage).

    Candidates (r15): EXACT prefix filtering (AllPairs/PPJoin —
    dedup.prefix_filter_candidates) with the same-source key and the
    |Δn_chars| <= 40 window folded into the join key. The r14 form
    equi-joined on (source, length-bucket) alone, whose candidate
    volume is O(docs^2 / (sources x buckets)) — measured 27M
    candidates at the 10x pair-heavy stress vs 6.5M with the prefix
    key added. Prefix candidates are a provably lossless superset of
    the J >= 0.5 pairs, so the output is bit-identical and the oracle
    below is unchanged.

    The VERIFIED pair frame is persisted and memoized (kind "pairs")
    because FIVE entries compose it —
    this one, dedup_groups, dedup_keep_best, dedup_rate_report,
    split_leakage_check (r14 verdict item #3: share the pair
    derivation across the composed stages instead of re-running the
    candidate join per entry)."""
    def build(t):
        docs = t["documents"]
        cand = dedup.prefix_filter_candidates(
            docs, n=1, threshold_num=1, threshold_den=2,
            keys=("source",), length_col="n_chars", length_window=40)
        pairs = dedup.ngram_jaccard_pairs(docs, n=1, threshold=0.5,
                                          candidates=cand)
        return pairs.select(
            "id_a", "id_b",
            F.round(F.col("jaccard"), 6).alias("jaccard")).persist()
    return _frames("pairs", spark, sf_dir, build)


def dedup_token_jaccard_sql() -> str:
    return """
    WITH g AS (
        SELECT doc_id, source,
               list_distinct(string_split_regex(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS grams
        FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        round(len(list_intersect(a.grams, b.grams))::DOUBLE
              / len(list_distinct(a.grams || b.grams)), 6) AS jaccard
    FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
    JOIN documents da ON da.doc_id = a.doc_id
    JOIN documents db ON db.doc_id = b.doc_id
    WHERE abs(da.n_chars - db.n_chars) <= 40
      AND len(list_intersect(a.grams, b.grams))::DOUBLE
          / len(list_distinct(a.grams || b.grams)) >= 0.5
    """


def dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> GROUPS: the step every real dedup pipeline ends with.
    Connected components (large-star/small-star, O(log^2 n) rounds) over
    the oracle-expressible token-jaccard pair set; every document gets a
    component label = min doc_id in its near-dup group (isolated docs
    label themselves)."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    pairs = dedup_token_jaccard(spark, sf_dir)
    return dedup.dedup_groups(docs, pairs).select("doc_id", "component")


# the oracle-expressible token-jaccard near-dup PAIR derivation,
# ending in ``pairs`` (u < v) — shared by dedup_groups / keep_best
# (via _DUCK_GROUPS_CTES below) and split_leakage_check, so the pair
# semantics exist once in SQL just as they do in Spark (every consumer
# calls the dedup_token_jaccard entry).
_DUCK_PAIRS_CTES = """
    g AS (
        SELECT doc_id, source,
               list_distinct(string_split_regex(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS grams
        FROM documents),
    pairs AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        JOIN documents da ON da.doc_id = a.doc_id
        JOIN documents db ON db.doc_id = b.doc_id
        WHERE abs(da.n_chars - db.n_chars) <= 40
          AND len(list_intersect(a.grams, b.grams))::DOUBLE
              / len(list_distinct(a.grams || b.grams)) >= 0.5)"""

# min-label fixpoint as a recursive CTE: the component minimum m
# satisfies m < v for every other member v, so it propagates along any
# path; rows are bounded by (node, smaller-reachable-label) pairs. The
# body ends in ``comp`` (doc_id -> component) so dedup_keep_best_sql
# can compose the same group derivation — one definition, no fork.
_DUCK_GROUPS_CTES = _DUCK_PAIRS_CTES + """,
    edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
    cc (node, comp) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.v AS node, cc.comp
        FROM cc JOIN edges e ON e.u = cc.node
        WHERE cc.comp < e.v),
    comp AS (SELECT node AS doc_id, min(comp) AS component
             FROM cc GROUP BY node)"""


def dedup_groups_sql() -> str:
    return f"""
    WITH RECURSIVE {_DUCK_GROUPS_CTES}
    SELECT doc_id, component FROM comp
    """


def _minhash_base(spark: SparkSession, sf_dir: str):
    """Persisted (id, minhash) signature frame at the entry's fixed
    params (32 hashes, k=5 shingles, portable); the shingling pass is
    this operator's dominant cost."""
    return _frames("minhash", spark, sf_dir, lambda t: dedup.minhash_base(
        t["documents"], num_hashes=32, shingle_k=5,
        hash_mode="portable").persist())


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded minhash-LSH near-dup pairs in PORTABLE hash mode: every hash
    (md5-prefix base, Carter-Wegman family, polynomial band combine) is
    bit-identical in DuckDB SQL, so the oracle verifies actual minhash
    estimates — same plan shape as the xxhash64 production default."""
    t = load_tables(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(t["documents"], jaccard_threshold=0.5,
                                    hash_mode="portable",
                                    base=_minhash_base(spark, sf_dir))
    return _carry_release(pairs, pairs.select(
        "id_a", "id_b", F.round(F.col("est_jaccard"), 6).alias("est_jaccard")))


def _duck_minhash_sql(ids: str, cand: str, sig_join: str) -> str:
    """The ONE DuckDB twin of the portable-mode minhash pipeline: 32
    affine hashes over 28-bit md5-prefix shingle hashes, 8 bands x 4
    rows via polynomial combine, estimated Jaccard >= 0.5. ``cand``
    selects the candidate pairs (``ids``) from the ``banded`` CTE;
    ``sig_join`` joins them to both sides' signatures."""
    from .functions import portable_hash as PH

    nh, bands, rpb, k = 32, 8, 4, 5
    coeffs = PH.affine_coeffs(nh)
    mins = ",\n        ".join(
        f"list_min(list_transform(hs, h -> {PH.duck_affine('h', a, b)})) AS m{i}"
        for i, (a, b) in enumerate(coeffs))
    banded = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"{PH.duck_poly([f'm{b * rpb + r}' for r in range(rpb)])} AS bhash FROM sig"
        for b in range(bands))
    matches = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(nh))
    return f"""
    WITH w AS (
        SELECT doc_id,
               string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS words
        FROM documents
        WHERE text IS NOT NULL AND trim(text) <> ''),
    sh AS (
        SELECT doc_id, CASE WHEN len(words) >= {k}
            THEN list_transform(range(1, len(words) - {k} + 2),
                                i -> array_to_string(words[i:i+{k - 1}], ' '))
            ELSE [array_to_string(words, ' ')] END AS shingles
        FROM w),
    base AS (
        SELECT doc_id, list_transform(shingles, s -> {PH.duck_ph28('s')}) AS hs
        FROM sh),
    sig AS (SELECT doc_id, {mins} FROM base),
    banded AS ({banded}),
    cand AS (
        {cand})
    SELECT {ids}, round(({matches}) / 32.0, 6) AS est_jaccard
    FROM cand {sig_join}
    WHERE ({matches}) / 32.0 >= 0.5
    """


def dedup_minhash_lsh_sql() -> str:
    """Exact DuckDB twin of the portable-mode minhash entry."""
    return _duck_minhash_sql(
        "id_a, id_b",
        """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id""",
        "JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b")


def _simhash_base(spark: SparkSession, sf_dir: str):
    """Persisted (id, simhash) fingerprint frame at the entry's fixed
    params (nbits=60, portable)."""
    return _frames("simhash", spark, sf_dir, lambda t: dedup.simhash_base(
        t["documents"], nbits=60, hash_mode="portable").persist())


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-simhash near-dup pairs (4×15-bit tables over a 60-bit
    PORTABLE fingerprint, exact popcount verify INLINE on the band join
    — r10 plan, see simhash_pairs) — the Manku-style scale path;
    pigeonhole completeness for hamming<=3 needs only bands >
    max_hamming, so 4x15 bits is as complete as the xxhash64 default's
    4x16. Portable mode makes every fingerprint DuckDB-reproducible."""
    t = load_tables(spark, sf_dir)
    pairs = dedup.simhash_pairs(t["documents"], max_hamming=3, bands=4,
                                band_bits=15, nbits=60,
                                hash_mode="portable",
                                base=_simhash_base(spark, sf_dir))
    return _carry_release(pairs, pairs.select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")))


def dedup_simhash_sql() -> str:
    """Exact DuckDB twin of the portable-mode simhash entry: 60-bit
    md5-prefix token hashes, per-bit +1/-1 votes, 4x15-bit band join,
    popcount verify at hamming <= 3."""
    from .functions import portable_hash as PH

    nbits, bands, bb, maxh = 60, 4, 15, 3
    mask = (1 << bb) - 1
    votes = ",\n        ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(nbits))
    fp = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END)"
        for i in range(nbits))
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS tok
        FROM documents
        WHERE text IS NOT NULL AND trim(text) <> ''),
    th AS (SELECT doc_id, {PH.duck_ph60('tok')} AS h FROM toks),
    votes AS (SELECT doc_id, {votes} FROM th GROUP BY doc_id),
    fp AS (SELECT doc_id, {fp} AS simhash FROM votes),
    banded AS (
        SELECT doc_id, band, (simhash >> (band * {bb})) & {mask} AS bval
        FROM fp CROSS JOIN (SELECT unnest([{", ".join(str(b) for b in range(bands))}]) AS band)),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, bit_count(xor(fa.simhash, fb.simhash))::BIGINT AS hamming
    FROM cand JOIN fp fa ON fa.doc_id = id_a JOIN fp fb ON fb.doc_id = id_b
    WHERE bit_count(xor(fa.simhash, fb.simhash)) <= {maxh}
    """


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding near-dup pairs (dedup.embedding_cosine_pairs, the
    blocked-GEMM cosine_join self-join), so the entry is oracle-exact
    with no recall parameter. The threshold is chosen so the
    deterministic test embeddings exercise it (max true cosine ~0.51 at
    sf0.01); the closest pair sits ~1e-4 from it at the fixture SFs."""
    t = load_tables(spark, sf_dir)
    pairs = dedup.embedding_cosine_pairs(t["embeddings"], threshold=0.45)
    return pairs.select(
        "id_a", "id_b", F.round(F.col("cosine"), 6).alias("cosine"))


def dedup_embedding_cosine_sql() -> str:
    return """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
    """


# ------------------------------------------- persisted-index probe entries

import tempfile as _tempfile

# probe-index trees released by the memo (stale, another sf_dir's or a
# dead session's) await deletion here: RETIRED, not rmtree'd in place,
# because DataFrames returned by earlier calls still lazily reference
# them (an immediate rmtree would turn their next action into
# FileNotFoundException or, with ignoreMissingFiles, silent row loss).
# Swept by purge_probe_indexes, and oldest-first past _RETIRED_CAP at
# the next index build, so the backlog stays bounded in a session that
# never purges.
_RETIRED_INDEX_TREES: list = []
_RETIRED_CAP = 16


def _sweep_retired(keep: int) -> int:
    """Delete retired trees, oldest first, until ``keep`` remain."""
    import shutil

    n = 0
    while len(_RETIRED_INDEX_TREES) > keep:
        path = _RETIRED_INDEX_TREES.pop(0)
        shutil.rmtree(path, ignore_errors=True)
        n += 1
        if keep:
            # a DataFrame handed out >= _RETIRED_CAP rebuilds ago now
            # fails at execution with a missing-file error — this
            # warning is the diagnosis trail
            import warnings
            warnings.warn(
                f"probe-index retirement backlog > {keep}: force-sweeping "
                f"oldest retired tree {path}; any still-lazy DataFrame "
                f"over it will fail with missing files", RuntimeWarning)
    return n


def purge_probe_indexes() -> int:
    """Delete every probe-index tmp tree, live and retired; returns the
    number deleted. Registered atexit: a fresh process starts with an
    empty memo, so nothing else would ever remove the previous
    process's trees from /tmp."""
    release_memos("index:")  # retires the live trees
    return _sweep_retired(0)


import atexit as _atexit

_atexit.register(purge_probe_indexes)


def _probe_index_path(spark: SparkSession, sf_dir: str, kind: str,
                      build) -> str:
    """On-disk artifact written by ``build(path)`` into a fresh tmp
    tree, memoized per (session, sf_dir) under memo kind
    ``index:<kind>``; a released tree is retired (see
    _RETIRED_INDEX_TREES). A FAILED build must not leak its partial
    tree (nothing would ever reclaim it): it is deleted and the error
    re-raised."""
    def make():
        import shutil

        _sweep_retired(_RETIRED_CAP)
        path = _tempfile.mkdtemp(prefix=f"rm_{kind}_idx_")
        try:
            build(path)
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            raise
        return path

    return memo("index:" + kind, spark, sf_dir, (), make,
                release=_RETIRED_INDEX_TREES.append)


def neardup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup admission against the PERSISTED minhash
    index (dedup.build_minhash_index / neardup_vs_index): documents with
    doc_id % 7 == 0 arrive as the new batch and probe an index built
    (once, memoized) over the other ~6/7 of the corpus. The probe
    computes signatures for the batch only and equi-joins the banded
    index — the corpus text is never re-read. PORTABLE hash mode makes
    every signature bit-identical in DuckDB, so the oracle checks the
    actual minhash estimates, not just row counts."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    path = _probe_index_path(
        spark, sf_dir, "minhash",
        lambda p: dedup.build_minhash_index(
            docs.filter(F.col("doc_id") % 7 != 0), p, hash_mode="portable"))
    pairs = dedup.neardup_vs_index(
        docs.filter(F.col("doc_id") % 7 == 0), path,
        jaccard_threshold=0.5, hash_mode="portable")
    return pairs.select("new_id", "index_id",
                        F.round("est_jaccard", 6).alias("est_jaccard"))


def neardup_probe_sql() -> str:
    """DuckDB twin of the portable-mode minhash PROBE: the signature
    pipeline of dedup_minhash_lsh_sql, with the banded join taking the
    batch (doc_id%7=0) on one side and the indexed corpus (doc_id%7<>0)
    on the other."""
    return _duck_minhash_sql(
        "new_id, index_id",
        """SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bhash = b.bhash
         AND a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0""",
        """JOIN sig sa ON sa.doc_id = new_id
              JOIN sig sb ON sb.doc_id = index_id""")


def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring pairs at 15-token span granularity
    (dedup.repeated_span_pairs): verbatim shared runs, document-
    frequency-bounded buckets (df in [2, 50]) so boilerplate spans
    never explode the join. Runs the production hash-first join key
    ((xxhash64(span), span) — r10); exactness still rides on string
    equality (the span stays in the key), so the entry remains
    oracle-exact by construction against the string-keyed DuckDB SQL."""
    t = load_tables(spark, sf_dir)
    return dedup.repeated_span_pairs(t["documents"], span_tokens=15,
                                     min_doc_freq=2, max_doc_freq=50,
                                     key_mode="hash")


def substring_dup_spans_sql() -> str:
    k = 15
    return f"""
    WITH w AS (
        SELECT doc_id,
               string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS words
        FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
    spans AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(words) - {k} + 2),
                      i -> array_to_string(words[i:i+{k - 1}], ' '))) AS span
        FROM w WHERE len(words) >= {k}),
    keep AS (
        SELECT span FROM spans GROUP BY span
        HAVING count(DISTINCT doc_id) BETWEEN 2 AND 50),
    sp AS (SELECT s.doc_id, s.span FROM spans s JOIN keep USING (span))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           count(*) AS n_shared_spans
    FROM sp a JOIN sp b ON a.span = b.span AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """


def substring_removal_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document removal ranges for duplicated text
    (dedup.substring_removal_spans; Lee et al. 2022's deliverable):
    merged [cut_start, cut_end) character intervals over the normalized
    text covered by 15-token runs occurring in >= 2 distinct documents.
    Deterministic integer arithmetic end to end (code-point offsets,
    gaps-and-islands merge) — oracle-exact."""
    t = load_tables(spark, sf_dir)
    return dedup.substring_removal_spans(t["documents"], span_tokens=15,
                                         min_doc_freq=2)


def substring_removal_spans_sql() -> str:
    k = 15
    return f"""
    WITH w AS (
        SELECT doc_id,
               string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS words
        FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
    tok AS (
        SELECT doc_id, i, words[i] AS w
        FROM (SELECT doc_id, words,
                     unnest(range(1, len(words) + 1))::INT AS i
              FROM w WHERE len(words) >= {k})),
    pos AS (
        SELECT doc_id, i,
               coalesce(sum(len(w) + 1) OVER (PARTITION BY doc_id
                        ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0)::BIGINT AS start
        FROM tok),
    spans AS (
        SELECT doc_id, i,
               array_to_string(words[i:i+{k - 1}], ' ') AS span
        FROM (SELECT doc_id, words,
                     unnest(range(1, len(words) - {k} + 2))::INT AS i
              FROM w)),
    occ AS (
        SELECT s.doc_id, s.span, p.start,
               p.start + len(s.span) AS fin
        FROM spans s JOIN pos p ON p.doc_id = s.doc_id AND p.i = s.i),
    dup AS (SELECT span FROM occ GROUP BY span
            HAVING count(DISTINCT doc_id) >= 2),
    hits AS (SELECT o.doc_id, o.start, o.fin
             FROM occ o JOIN dup USING (span)),
    isl AS (
        SELECT doc_id, start, fin,
               CASE WHEN start > coalesce(max(fin) OVER (
                        PARTITION BY doc_id ORDER BY start, fin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -1) THEN 1 ELSE 0 END AS brk
        FROM hits),
    grp AS (
        SELECT doc_id, start, fin,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY start, fin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
        FROM isl)
    SELECT doc_id, min(start)::BIGINT AS cut_start,
           max(fin)::BIGINT AS cut_end, count(*)::BIGINT AS n_spans
    FROM grp GROUP BY doc_id, island
    """


def substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the substring removal ranges — the full Lee et al. 2022
    loop closed (r10 verdict item #2): substring_removal_spans emits
    per-document [cut_start, cut_end) intervals, apply_removal_spans
    cuts them out of the normalized text. One row per non-blank
    document with the scrubbed training text itself, so the oracle
    hash-checks the TEXT, not just the range arithmetic. Docs without
    duplicated runs pass through intact (n_cut = 0)."""
    docs = load_tables(spark, sf_dir)["documents"]
    spans = dedup.substring_removal_spans(docs, span_tokens=15,
                                          min_doc_freq=2)
    return dedup.apply_removal_spans(docs, spans)


def substring_scrub_sql() -> str:
    return f"""
    WITH cuts AS (SELECT * FROM ({substring_removal_spans_sql()})),
    norm AS (
        SELECT doc_id,
               regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS s
        FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
    segs AS (
        SELECT doc_id, cut_start, cut_end,
               coalesce(max(cut_end) OVER (PARTITION BY doc_id
                        ORDER BY cut_start, cut_end
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS prev_end
        FROM cuts),
    pieces AS (
        SELECT g.doc_id, g.cut_start AS ord,
               substring(n.s, (g.prev_end + 1)::INT,
                         (g.cut_start - g.prev_end)::INT) AS piece
        FROM segs g JOIN norm n USING (doc_id)
        UNION ALL
        SELECT m.doc_id, 9223372036854775807,
               substring(n.s, (m.last_end + 1)::INT) AS piece
        FROM (SELECT doc_id, max(cut_end) AS last_end
              FROM cuts GROUP BY doc_id) m
        JOIN norm n USING (doc_id)),
    scrub AS (
        SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS clean_text
        FROM pieces GROUP BY doc_id),
    stats AS (
        SELECT doc_id, count(*)::BIGINT AS n_cut,
               sum(cut_end - cut_start)::BIGINT AS n_chars_cut
        FROM cuts GROUP BY doc_id)
    SELECT n.doc_id,
           coalesce(st.n_cut, 0)::BIGINT AS n_cut,
           coalesce(st.n_chars_cut, 0)::BIGINT AS n_chars_cut,
           coalesce(sc.clean_text, n.s) AS clean_text
    FROM norm n
    LEFT JOIN scrub sc USING (doc_id)
    LEFT JOIN stats st USING (doc_id)
    """


def neardup_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end incremental ADMISSION loop on the persisted minhash
    index: index the base corpus (doc_id % 7 >= 2), ADMIT the
    doc_id % 7 == 1 batch via dedup.append_to_minhash_index (signatures
    computed for the batch only, parquet-appended into the band
    partitions — the index is never rewritten), then probe the
    doc_id % 7 == 0 batch. Hits land against BOTH the original corpus
    and the admitted batch (1/3/12 admitted-batch hits at
    sf0.001/0.01/0.1 — non-vacuous), so a green row proves append
    visibility, not just the build path. Build+append are memoized per
    session (immutable fixtures); the oracle is the same all-SQL minhash
    pipeline as neardup_probe over the identical index contents."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    path = _probe_index_path(
        spark, sf_dir, "minhash_admit",
        lambda p: (
            dedup.build_minhash_index(
                docs.filter(F.col("doc_id") % 7 >= 2), p,
                hash_mode="portable"),
            dedup.append_to_minhash_index(
                docs.filter(F.col("doc_id") % 7 == 1), p,
                hash_mode="portable")))
    pairs = dedup.neardup_vs_index(
        docs.filter(F.col("doc_id") % 7 == 0), path,
        jaccard_threshold=0.5, hash_mode="portable")
    return pairs.select("new_id", "index_id",
                        F.round("est_jaccard", 6).alias("est_jaccard"))


def neardup_admit_sql() -> str:
    # identical semantics to neardup_probe_sql BY DESIGN: the index
    # contents are the same set of documents, the entries differ only in
    # HOW the index got there (one build vs build+append) — the shared
    # oracle is what proves the append path changes nothing
    return neardup_probe_sql()


def embedding_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding near-dup admission against the PERSISTED
    sign-LSH index (dedup.build_signlsh_index /
    neardup_embedding_vs_index): vectors with vec_id % 5 == 0 probe an
    index built (once, memoized) over the other ~4/5. b=256/r=8 gives
    per-pair miss probability ~8e-4 at the 0.42 threshold, and recall is
    empirically 100% at all three fixture SFs (RM_SF_SWEEP=1
    tests/test_sf_sweep.py), so the exact-cosine output equals the
    oracle's all-cross-pairs join — the driver hash-checks true cosines
    while the Spark side never goes all-pairs and never re-reads the
    corpus."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    path = _probe_index_path(
        spark, sf_dir, "signlsh",
        lambda p: dedup.build_signlsh_index(
            emb.filter(F.col("vec_id") % 5 != 0), p,
            bands=256, planes_per_band=8))
    hits = dedup.neardup_embedding_vs_index(
        emb.filter(F.col("vec_id") % 5 == 0), path, threshold=0.42,
        bands=256, planes_per_band=8)
    return _carry_release(hits, hits.select(
        "new_id", "index_id", F.round(F.col("cosine"), 6).alias("cosine")))


def embedding_probe_sql() -> str:
    return """
    SELECT a.vec_id AS new_id, b.vec_id AS index_id,
        round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.vec_id % 5 = 0 AND b.vec_id % 5 <> 0
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.42
    """


# =============================================================== similarity

def _query_vectors(t):
    return (t["embeddings"].orderBy("vec_id").limit(5)
            .select(F.col("vec_id").alias("qid"), F.col("embedding")))


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return similarity.brute_force_topk(t["embeddings"], _query_vectors(t), k=10)


def ann_bruteforce_topk_sql() -> str:
    return """
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings ORDER BY vec_id LIMIT 5),
         scored AS (
            SELECT q.qid, e.vec_id AS cid,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cosine
            FROM embeddings e CROSS JOIN q),
         ranked AS (
            SELECT qid, cid, cosine,
                   row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
            FROM scored)
    SELECT qid, cid, cosine, rank FROM ranked WHERE rank <= 10
    """


def _recall_gated(emb: DataFrame, q: DataFrame, approx: DataFrame,
                  k: int) -> DataFrame:
    """The exact top-k rows (brute_force_topk) of each query whose
    approximate (qid, cid) result `approx` reaches recall >= 0.85
    against them: the oracle computes the exact top-k for ALL queries,
    so the hashes match iff every query clears the bar."""
    exact = similarity.brute_force_topk(emb, q, k=k)
    hits = (exact.select("qid", "cid")
            .join(approx.withColumn("hit", F.lit(1)), ["qid", "cid"], "left")
            .groupBy("qid")
            .agg((F.sum("hit") / F.count(F.lit(1))).alias("recall")))
    good = hits.filter(F.col("recall") >= 0.85).select("qid")
    return exact.join(F.broadcast(good), "qid") \
        .select("qid", "cid", "cosine", "rank")


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k, oracle-gated on recall: the entry emits the EXACT top-k
    rows for each query whose IVF result achieves recall >= 0.85 against
    brute force (both deterministic under the fixed seed; measured min
    recall 0.9 at sf0.001, 1.0 at sf0.01). The DuckDB
    oracle computes the exact top-k for ALL queries, so the hashes match
    iff every query clears the recall bar — a driver-checkable assertion
    of approximation quality, not just a rows-only count.

    Fixture params (ncentroids=8, nprobe=7) probe wide because the
    synthetic embeddings are near-uniform — top-k neighbors of random
    vectors scatter across cells, the regime where IVF cannot prune. On
    real clustered embeddings at scale the production shape is
    ncentroids ~ sqrt(n) with nprobe << ncentroids; only the codebook
    size changes, not the plan."""
    t = load_tables(spark, sf_dir)
    q = _query_vectors(t)
    k = 10
    emb = t["embeddings"]
    cents = memo("codebook:ivf:embedding", spark, sf_dir, (8,),
                 lambda: similarity.train_centroids(emb, ncentroids=8))
    ivf = similarity.ivf_topk(emb, q, k=k, ncentroids=8, nprobe=7,
                              cents=cents).select("qid", "cid")
    return _recall_gated(emb, q, ivf, k)


def ann_ivf_topk_sql() -> str:
    return ann_bruteforce_topk_sql()


# =============================================================== text

def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return textstats.lang_id(t["documents"]).select("doc_id", "lang_pred")


def text_lang_id_sql() -> str:
    h = {lang: _sql_hits(lang) for lang in LANGS}
    return f"""
    SELECT doc_id,
        CASE WHEN greatest({h['de']}, {h['en']}, {h['es']}, {h['fr']}) = 0 THEN 'und'
             WHEN {h['fr']} >= {h['es']} AND {h['fr']} >= {h['en']} AND {h['fr']} >= {h['de']} THEN 'fr'
             WHEN {h['es']} >= {h['en']} AND {h['es']} >= {h['de']} THEN 'es'
             WHEN {h['en']} >= {h['de']} THEN 'en'
             ELSE 'de' END AS lang_pred
    FROM documents
    """


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return textstats.token_count(t["documents"]).select(
        "doc_id", "n_tokens_ws", "n_tokens_bpe_rx", "n_tokens_bpe_est")


def text_token_count_sql() -> str:
    # same lookahead-free BPE pattern as textstats.BPE_PATTERN; the
    # leading apostrophe (contractions) is doubled for the SQL literal
    pat = textstats.BPE_PATTERN.replace("'", "''")
    return f"""
    SELECT doc_id,
        CASE WHEN text IS NULL OR trim(text) = '' THEN 0
             ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END
            AS n_tokens_ws,
        CASE WHEN text IS NULL OR trim(text) = '' THEN 0
             ELSE len(regexp_extract_all(text, '{pat}'))::INT END
            AS n_tokens_bpe_rx,
        ceil(coalesce(length(text), 0) / 4.0)::BIGINT AS n_tokens_bpe_est
    FROM documents
    """


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return textstats.quality_score(t["documents"]).select(
        "doc_id", "mean_word_len", "punct_ratio", "digit_ratio",
        "stopword_ratio", "quality")


def text_quality_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in textstats.LANG_PROFILES["en"])
    return f"""
    WITH t AS (
        SELECT doc_id, text,
            string_split_regex(trim(lower(text)), '\\s+') AS toks,
            length(text) AS chars
        FROM documents),
         m AS (
        SELECT doc_id,
            (chars - len(toks) + 1)::DOUBLE / len(toks) AS mwl,
            (chars - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                / greatest(chars, 1) AS pr,
            (chars - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                / greatest(chars, 1) AS dr,
            len(list_filter(toks, x -> list_contains([{stop}], x)))::DOUBLE
                / greatest(len(toks), 1) AS sr
        FROM t)
    SELECT doc_id,
        round(mwl, 6) AS mean_word_len, round(pr, 6) AS punct_ratio,
        round(dr, 6) AS digit_ratio, round(sr, 6) AS stopword_ratio,
        round(CASE WHEN mwl >= 3 AND mwl <= 10 THEN 0.4 ELSE 0.0 END
            + CASE WHEN pr < 0.2 THEN 0.2 ELSE 0.0 END
            + CASE WHEN dr < 0.3 THEN 0.2 ELSE 0.0 END
            + CASE WHEN sr > 0.01 THEN 0.2 ELSE 0.0 END, 2)::DOUBLE AS quality
    FROM m
    """


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint in PORTABLE hash mode (md5-prefix token
    hashes + polynomial window combine), so the DuckDB oracle verifies the
    actual fingerprint values — same plan as the xxhash64 default."""
    t = load_tables(spark, sf_dir)
    return textstats.fingerprint(t["documents"], hash_mode="portable").select(
        "doc_id", "fp_hash", "fp_min_window")


def text_fingerprint_sql() -> str:
    """Exact DuckDB twin of the portable-mode fingerprint entry."""
    from .functions import portable_hash as PH

    k = 8
    wh = PH.duck_poly([f"hs[i + {j}]" for j in range(k)])
    return f"""
    WITH t AS (
        SELECT doc_id,
               regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
        FROM documents),
    th AS (
        SELECT doc_id, norm,
               list_transform(string_split(norm, ' '), tok -> {PH.duck_ph28('tok')}) AS hs
        FROM t)
    SELECT doc_id,
           {PH.duck_ph60('norm')} AS fp_hash,
           CASE WHEN len(hs) >= {k}
               THEN list_min(list_transform(range(1, len(hs) - {k} + 2), i -> {wh}))
               ELSE {PH.duck_ph60('norm')} END AS fp_min_window
    FROM th
    """


# =============================================================== streaming

def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch shape of the streaming tumbling-window agg (same plan runs on
    readStream with a watermark)."""
    t = load_tables(spark, sf_dir)
    out = W.tumbling_counts(t["events"], window="1 hour")
    return out.select(
        F.unix_timestamp("window_start").alias("ws"),
        "event_type", "n_events", "sum_value")


def stream_tumbling_sql() -> str:
    return """
    SELECT epoch(date_trunc('hour', ts::TIMESTAMP))::BIGINT AS ws, event_type,
        count(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """


def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe join: lineitem (big, skewed side) x orders via
    salted_join — orders replicated across 4 salts so a hot orderkey's
    rows spread over 4 reducers — then revenue per order priority. The
    oracle is the PLAIN join: salting must be semantically invisible."""
    from .operators.skew import salted_join
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount")
    orders = t["orders"].select(F.col("o_orderkey").alias("l_orderkey"),
                                "o_orderpriority")
    joined = salted_join(li, orders, on="l_orderkey", num_salts=4)
    rev = F.sum((F.col("l_extendedprice").cast(DEC)
                 * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))))
    return (joined.groupBy("o_orderpriority")
            .agg(rev.cast("double").alias("revenue"),
                 F.count(F.lit(1)).alias("n_lines"))
            .orderBy("o_orderpriority"))


def skew_salted_join_sql() -> str:
    return """
    SELECT o_orderpriority,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        count(*) AS n_lines
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """


def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over the events table: per event_type
    sums/counts plus the distinct user set — the collect_set is the agg
    whose single-reducer combine a hot key would bottleneck."""
    from .operators.skew import salted_two_phase_agg
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_type", "user_id",
                            F.col("value").cast(DEC).alias("v"))
    out = salted_two_phase_agg(
        ev, "event_type",
        {"n_events": ("count", "user_id"),
         "sum_value": ("sum", "v"),
         "users": ("collect_set", "user_id")},
        num_salts=4)
    return out.select(
        "event_type", "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        F.size("users").alias("n_users")).orderBy("event_type")


def skew_salted_agg_sql() -> str:
    return """
    SELECT event_type, count(user_id) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """


def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch shape of the sliding-window agg (2h window, 1h slide): each
    event lands in two windows; the oracle enumerates both via a lateral
    offset join."""
    t = load_tables(spark, sf_dir)
    out = W.sliding_counts(t["events"], window="2 hours", slide="1 hour")
    return out.select(
        F.unix_timestamp("window_start").alias("ws"),
        "event_type", "n_events")


def stream_sliding_sql() -> str:
    return """
    SELECT epoch(date_trunc('hour', ts::TIMESTAMP) - INTERVAL (o.off) HOUR)::BIGINT AS ws,
           event_type, count(*) AS n_events
    FROM events CROSS JOIN (SELECT unnest([0, 1]) AS off) o
    GROUP BY 1, 2
    """


def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    out = W.session_windows(t["events"], gap="30 minutes")
    return out.select(
        F.unix_timestamp("session_start").alias("ss"),
        F.unix_timestamp("session_end").alias("se"),
        "user_id", "n_events", "sum_value")


def stream_session_sql() -> str:
    return """
    WITH e AS (
        SELECT user_id, ts::TIMESTAMP AS ts, value,
            CASE WHEN lag(ts::TIMESTAMP) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR ts::TIMESTAMP - lag(ts::TIMESTAMP) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_session
        FROM events),
         s AS (
        SELECT user_id, ts, value,
            sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM e)
    SELECT floor(epoch(min(ts)))::BIGINT AS ss,
           floor(epoch(max(ts) + INTERVAL '30 minutes'))::BIGINT AS se,
           user_id, count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, session_id
    """


def stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the applyInPandasWithState running counter."""
    t = load_tables(spark, sf_dir)
    out = W.running_user_totals_stateful(t["events"])
    return out.select("user_id", "event_id", "running_value", "running_events")


def stream_running_totals_sql() -> str:
    return """
    SELECT user_id, event_id,
        CAST(SUM(CAST(value AS DECIMAL(18,2)))
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value,
        count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS running_events
    FROM events
    """


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-native exact dedup (batch shape): the events table unioned
    with a deterministic 10% echo of itself (the duplicate injection —
    testdata has no natural dups), deduped on event_id. The streaming form
    is dropDuplicatesWithinWatermark (bounded state); same plan shape."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_id", "ts", "user_id", "event_type", "value")
    dups = ev.filter(F.col("event_id") % 10 == 0)
    return W.dedup_events(ev.unionAll(dups), key_cols=("event_id",))


def stream_dedup_sql() -> str:
    return """
    WITH ev AS (SELECT event_id, ts, user_id, event_type, value FROM events),
         unioned AS (SELECT * FROM ev
                     UNION ALL SELECT * FROM ev WHERE event_id % 10 = 0)
    SELECT DISTINCT * FROM unioned
    """


# =============================================================== multimodal

def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column -> Arrow-batched feature extraction. Payloads
    derive from the documents table (utf-8 bytes of text), so the whole
    binary pipeline — schema, mapInPandas batching, per-row hashing — is
    ORACLE-CHECKED: DuckDB recomputes n_bytes/sha256 from the same bytes.
    The 16-dim feature vector is a pure function of the sha256 digest
    (fake-decode mode) and is covered by pytest; the parquet partitioning
    carries through to the Python workers (no repartition needed — at real
    scale the media table arrives already wide)."""
    t = load_tables(spark, sf_dir)
    media = t["documents"].select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(F.lit("x/fake").alias("mime"),
                 F.lit(64).alias("width"), F.lit(64).alias("height"),
                 F.lit(0).cast("long").alias("duration_ms")).alias("meta"))
    return multimodal.extract_features(media).select(
        "media_id", "kind", "n_bytes", "sha256")


def multimodal_features_sql() -> str:
    return """
    SELECT doc_id AS media_id,
           ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
           octet_length(text::BLOB)::BIGINT AS n_bytes,
           sha256(text) AS sha256
    FROM documents
    """


def image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs via perceptual dHash (r10 verdict item
    #4 — bridges the multimodal binary columns into the dedup stack):
    payloads derive from the documents table (utf-8 bytes, the
    multimodal_features construction) so the deterministic fake-decode
    strip — code-point chunk sums, i.e. a byte-level grayscale
    downsample — is ORACLE-CHECKED end to end: DuckDB recomputes the
    61-pixel strip, the 60-bit gradient hash, the 4x15-bit Manku bands
    and the popcount verify bit-for-bit. Hamming <= 3 < bands, so band
    recall is exact by pigeonhole, not probabilistic. Non-vacuous at
    all three fixture SFs (3 / 1 / 430 pairs)."""
    docs = load_tables(spark, sf_dir)["documents"]
    media = (docs.filter(F.col("text").isNotNull()
                         & (F.length("text") > 0))
             .select(F.col("doc_id").alias("media_id"),
                     F.encode("text", "UTF-8").alias("payload")))
    return multimodal.phash_neardup_pairs(media, max_hamming=3)


def _phash_cte(src: str, id_expr: str = "doc_id") -> str:
    """px/ph CTE fragment: the 61-pixel code-point strip and the 60-bit
    gradient hash over ``src`` (a CTE/table exposing ``id_expr``, s,
    L). Shared by image_phash_neardup_sql (via its `d` CTE) and
    stream_media_dedup_sql (echoed media union) so the fake-decode spec
    lives in ONE SQL fragment."""
    return f"""
    px AS (
        SELECT {id_expr},
               list_transform(range(0, 61), i ->
                   coalesce(list_sum(list_transform(
                       range((i * L) // 61 + 1, ((i + 1) * L) // 61 + 1),
                       j -> unicode(s[j:j]))), 0) % 256) AS p
        FROM {src}),
    ph AS (
        SELECT {id_expr},
               list_sum(list_transform(range(0, 60), i ->
                   CASE WHEN p[i + 2] > p[i + 1]
                        THEN (1::BIGINT << i) ELSE 0::BIGINT END)
               )::BIGINT AS phash
        FROM px)"""


def image_phash_neardup_sql() -> str:
    return f"""
    WITH d AS (SELECT doc_id, text AS s, len(text) AS L FROM documents
               WHERE text IS NOT NULL AND len(text) > 0),
    {_phash_cte("d")},
    bv AS (
        SELECT doc_id, phash, unnest(range(0, 4)) AS b
        FROM ph),
    bands AS (
        SELECT doc_id, phash, b,
               (phash >> (15 * b::INT)) & 32767 AS bval
        FROM bv),
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.phash, b.phash))::INT AS hamming
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.bval = b.bval AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, min(hamming)::INT AS hamming
    FROM cand WHERE hamming <= 3 GROUP BY id_a, id_b
    """


def stream_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash media dedup (batch shape of the STREAM operator
    multimodal.media_dedup — the image pipeline's admission filter):
    documents-derived payloads plus a deterministic 10% echo (media_id
    + 1000000, same bytes — the duplicate injection, mirroring
    stream_dedup), one row per distinct phash with the min-id
    representative and copy count. The streaming form is the same hash
    pass + dropDuplicatesWithinWatermark (bounded per-hash state); the
    file-stream test proves state carries across micro-batches. The
    echo guarantees n_copies >= 2 rows at every SF (non-vacuous)."""
    docs = (load_tables(spark, sf_dir)["documents"]
            .filter(F.col("text").isNotNull() & (F.length("text") > 0)))
    echo = (docs.filter(F.col("doc_id") % 10 == 0)
            .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    media = (docs.select("doc_id", "text").unionByName(echo)
             .select(F.col("doc_id").alias("media_id"),
                     F.encode("text", "UTF-8").alias("payload")))
    return multimodal.media_dedup(media)


def stream_media_dedup_sql() -> str:
    return f"""
    WITH d0 AS (SELECT doc_id, text FROM documents
                WHERE text IS NOT NULL AND len(text) > 0),
    u AS (SELECT doc_id AS mid, text AS s, len(text) AS L FROM d0
          UNION ALL
          SELECT doc_id + 1000000, text, len(text) FROM d0
          WHERE doc_id % 10 = 0),
    {_phash_cte("u", "mid")}
    SELECT min(mid) AS media_id, phash, count(*)::BIGINT AS n_copies
    FROM ph GROUP BY phash
    """


def image_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup GROUP labels — the full multimodal dedup loop
    (pairs alone don't dedup a corpus): perceptual-hash pairs feed the
    distributed connected-components twin (dedup.dedup_groups), every
    media row gets its component representative (the minimum media_id
    reachable through hamming <= 3 edges). The oracle composes the
    phash pipeline with the same recursive min-label-fixpoint CTE that
    gates text dedup_groups."""
    docs = load_tables(spark, sf_dir)["documents"]
    media = (docs.filter(F.col("text").isNotNull()
                         & (F.length("text") > 0))
             .select(F.col("doc_id").alias("media_id"),
                     F.encode("text", "UTF-8").alias("payload")))
    pairs = multimodal.phash_neardup_pairs(media, max_hamming=3)
    out = dedup.dedup_groups(
        media.select(F.col("media_id").alias("doc_id")),
        pairs, id_col="doc_id").select(
            F.col("doc_id").alias("media_id"), "component")
    # connected_components consumes the pairs EAGERLY at construction
    # (localCheckpoint + count on its first lines), so the persisted
    # phash base is dead by now — release it here instead of forwarding
    # a handle the caller has to know about (r11 second review)
    pairs.rm_release_cache()
    return out


def image_dedup_groups_sql() -> str:
    # reuse the phash pipeline verbatim as a subquery (its own WITH
    # nests fine), then the same recursive min-label fixpoint as
    # dedup_groups_sql
    return f"""
    WITH RECURSIVE
    p AS (SELECT * FROM ({image_phash_neardup_sql()})),
    nodes AS (SELECT doc_id FROM documents
              WHERE text IS NOT NULL AND len(text) > 0),
    edges AS (SELECT id_a AS u, id_b AS v FROM p
              UNION SELECT id_b, id_a FROM p),
    cc (node, comp) AS (
        SELECT doc_id, doc_id FROM nodes
        UNION
        SELECT e.v AS node, cc.comp
        FROM cc JOIN edges e ON e.u = cc.node
        WHERE cc.comp < e.v)
    SELECT node AS media_id, min(comp) AS component
    FROM cc GROUP BY node
    """


# =============================================================== temporal

def temporal_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join between two event streams: for each purchase,
    the same user's most recent click at-or-before it (inclusive; NULLs
    when the user never clicked before). Union+window plan: ONE shuffle on
    user_id, no join explosion — the scalable shape Spark lacks natively
    (a naive formulation is a BroadcastNestedLoopJoin)."""
    ev = load_tables(spark, sf_dir)["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts")
    out = temporal.asof_join(purchases, clicks, on="user_id",
                             right_cols=("click_id",))
    return out.select(
        "purchase_id", "user_id", F.col("ts").alias("purchase_ts"),
        F.col("click_id_right").alias("click_id"),
        F.col("ts_right").alias("click_ts"))


def temporal_asof_join_sql() -> str:
    return """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS click_id, user_id, ts FROM events
               WHERE event_type = 'click')
    SELECT p.purchase_id, p.user_id, p.ts AS purchase_ts,
           c.click_id, c.ts AS click_ts
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """


def temporal_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure time-range join (NO equi key), aggregation-shaped: per order,
    count + quantity-sum of lineitems (any order) shipped within
    [o_orderdate, +3 days). Uses range_agg_bucketed: the right side is
    pre-aggregated into per-day partials (tiny, broadcast), each order
    joins its 3 fully-covered day buckets, and raw rows are touched only
    for unaligned edge buckets (none here — dates are day-aligned). The
    pair-producing formulation (range_join_bucketed) is quadratic per
    bucket and measured 35x slower at sf0.1; at 100 TB only the partial
    table grows with the time span, and the left side never shuffles."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].select("o_orderkey", "o_orderdate")
    li = t["lineitem"].select("l_shipdate", "l_quantity")
    agg = temporal.range_agg_bucketed(
        orders, li, id_col="o_orderkey",
        left_start=F.col("o_orderdate"),
        left_end=F.col("o_orderdate") + F.expr("INTERVAL 3 DAYS"),
        right_ts="l_shipdate", bucket_sec=86400, sum_col="l_quantity",
        count_name="n_shipped", sum_name="_s")
    return agg.select("o_orderkey", "n_shipped",
                      F.round(F.col("_s").cast("double"), 2).alias("qty_shipped"))


def temporal_range_join_sql() -> str:
    return """
    SELECT o.o_orderkey, count(l.l_shipdate) AS n_shipped,
           round(coalesce(sum(l.l_quantity::DECIMAL(18,2)), 0)::DOUBLE, 2)
               AS qty_shipped
    FROM orders o LEFT JOIN lineitem l
      ON l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 3 DAY
    GROUP BY o.o_orderkey
    """


def temporal_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical hour->day->week continuous-aggregate rollup of events:
    raw scanned once, day reduces hourly partials, week reduces daily
    partials; decimal partial sums keep every grain exact."""
    return temporal.time_rollup(load_tables(spark, sf_dir)["events"])


def temporal_rollup_sql() -> str:
    return """
    WITH h AS (SELECT date_trunc('hour', ts) AS bucket_start, event_type,
                      count(*) AS n_events, sum(value::DECIMAL(18,2)) AS s
               FROM events GROUP BY 1, 2)
    SELECT 'hour' AS granularity, bucket_start, event_type, n_events,
           round(s::DOUBLE, 2) AS sum_value FROM h
    UNION ALL
    SELECT 'day', date_trunc('day', bucket_start), event_type,
           sum(n_events)::BIGINT, round(sum(s)::DOUBLE, 2)
    FROM h GROUP BY 2, 3
    UNION ALL
    SELECT 'week', date_trunc('week', bucket_start), event_type,
           sum(n_events)::BIGINT, round(sum(s)::DOUBLE, 2)
    FROM h GROUP BY 2, 3
    """


# =============================================================== session / window / pivot / cube

def events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TIME-WEIGHTED average of the event value (the metric a
    plain mean gets wrong under irregular sampling): each reading is
    weighted by how long it was current (seconds until the user's next
    event; the last reading has no duration and drops out). One window
    pass on user_id + one aggregate; weighted sums run in DECIMAL with
    integer second weights, so the result is exact and
    partition-order-independent."""
    from pyspark.sql import Window
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(),
                                              F.col("event_id").asc())
    dt_s = (F.unix_timestamp(F.lead("ts").over(w))
            - F.unix_timestamp(F.col("ts")))
    base = (ev.select("user_id", "value", dt_s.alias("_dt"))
            .filter(F.col("_dt").isNotNull()))
    agg = (base.groupBy("user_id")
           .agg(F.sum(F.col("value").cast(DEC) * F.col("_dt"))
                .alias("_wsum"),
                F.sum("_dt").alias("_tsum"),
                F.count(F.lit(1)).alias("n_intervals")))
    return agg.select(
        "user_id", "n_intervals",
        F.round(F.col("_wsum").cast("double")
                / F.col("_tsum").cast("double"), 6).alias("twap"))


def events_twap_sql() -> str:
    return """
    WITH d AS (SELECT user_id, value,
                      date_diff('second', ts,
                                lead(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id))
                          AS dt
               FROM events)
    SELECT user_id, count(*) AS n_intervals,
           round(sum(value::DECIMAL(18,2) * dt)::DOUBLE
                 / sum(dt)::DOUBLE, 6) AS twap
    FROM d WHERE dt IS NOT NULL
    GROUP BY user_id
    """


def temporal_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min): lag + cumulative-sum windows,
    one shuffle on user_id, no join. Dense per-user session_seq."""
    ev = load_tables(spark, sf_dir)["events"]
    return temporal.sessionize(ev).select(
        "event_id", "user_id", "ts", "session_seq")


def temporal_sessionize_sql() -> str:
    return """
    SELECT event_id, user_id, ts,
           (sum(CASE WHEN prev IS NULL
                     OR date_diff('second', prev, ts) > 1800
                     THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
    FROM (SELECT event_id, user_id, ts,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS prev
          FROM events)
    """


def window_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window-function battery per user over event time:
    lag/lead, dense_rank, ntile, cumulative count, and a 3-row moving
    decimal sum — all in ONE window partitioning (single shuffle + sort)."""
    ev = load_tables(spark, sf_dir)["events"]
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(),
                                              F.col("event_id").asc())
    wrows = w.rowsBetween(-2, Window.currentRow)
    return ev.select(
        "event_id", "user_id",
        F.lag("event_id").over(w).alias("prev_event"),
        F.lead("event_id").over(w).alias("next_event"),
        F.dense_rank().over(w).alias("rk"),
        F.ntile(4).over(w).alias("quartile"),
        F.count(F.lit(1)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("n_so_far"),
        F.round(F.sum(F.col("value").cast(DEC)).over(wrows).cast("double"),
                2).alias("moving_sum3"))


def window_battery_sql() -> str:
    return """
    SELECT event_id, user_id,
        lag(event_id) OVER w AS prev_event,
        lead(event_id) OVER w AS next_event,
        dense_rank() OVER w AS rk,
        ntile(4) OVER w AS quartile,
        count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS n_so_far,
        round((sum(value::DECIMAL(18,2)) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))::DOUBLE, 2)
            AS moving_sum3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: daily event counts widened to one column per event type.
    The pivot values are PINNED (the 5 known types), so the plan is a
    single groupBy with conditional aggregation — no extra collect-
    distinct pass, which is also the only scalable way to pivot (unpinned
    pivots scan twice and explode the schema)."""
    ev = load_tables(spark, sf_dir)["events"]
    types = ["click", "error", "purchase", "signup", "view"]
    return (ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
            .pivot("event_type", types).count()
            .na.fill(0, types))


def events_pivot_sql() -> str:
    arms = ", ".join(
        f"count(*) FILTER (event_type = '{t}') AS {t}"
        for t in ("click", "error", "purchase", "signup", "view"))
    # ::TIMESTAMP: DuckDB's date_trunc('day') yields DATE, Spark's yields
    # TIMESTAMP — align the oracle's type
    return (f"SELECT date_trunc('day', ts)::TIMESTAMP AS day, {arms} "
            f"FROM events GROUP BY 1")


def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via rollup(region, nation): per-nation, per-region,
    and grand-total revenue in one pass (partial aggs shared across
    grouping sets), with explicit grouping flags for the super-aggregate
    rows."""
    t = load_tables(spark, sf_dir)
    joined = (t["customer"]
              .join(F.broadcast(t["nation"]),
                    F.col("c_nationkey") == F.col("n_nationkey"))
              .join(F.broadcast(t["region"]),
                    F.col("n_regionkey") == F.col("r_regionkey")))
    return (joined.rollup("r_name", "n_name")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum(F.col("c_acctbal").cast(DEC)).cast("double")
                 .alias("total_acctbal"),
                 F.grouping("r_name").alias("g_region"),
                 F.grouping("n_name").alias("g_nation"))
            .select(F.coalesce("r_name", F.lit("ALL")).alias("region"),
                    F.coalesce("n_name", F.lit("ALL")).alias("nation"),
                    "n_customers", "total_acctbal", "g_region", "g_nation"))


def sales_rollup_sql() -> str:
    return """
    SELECT coalesce(r_name, 'ALL') AS region,
           coalesce(n_name, 'ALL') AS nation,
           count(*) AS n_customers,
           sum(c_acctbal::DECIMAL(18,2))::DOUBLE AS total_acctbal,
           grouping(r_name) AS g_region, grouping(n_name) AS g_nation
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """


# =============================================================== json / anti join

def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured processing at table scale: parse the JSON props
    column with an explicit schema (from_json — no schema inference pass,
    the only scalable shape) and aggregate the extracted field per event
    type. Integer aggregates -> deterministic."""
    ev = load_tables(spark, sf_dir)["events"]
    k = F.from_json(F.col("props"), "k long")["k"]
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count("k").alias("n_with_k"),
                 F.sum("k").alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k")))


def events_json_extract_sql() -> str:
    return """
    SELECT event_type, count(*) AS n,
           count(k) AS n_with_k, sum(k)::BIGINT AS sum_k,
           min(k) AS min_k, max(k) AS max_k
    FROM (SELECT event_type, (props::JSON ->> 'k')::BIGINT AS k FROM events)
    GROUP BY event_type
    """


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with no URGENT order (the unfiltered
    variant is vacuous on this data — every customer has an order; the
    priority filter keeps the entry's result set real). The anti join shuffles
    only the two key columns and short-circuits per probe row (first
    match wins) — the scalable spelling of NOT EXISTS; never a
    left-join + IS NULL filter over a materialized join."""
    t = load_tables(spark, sf_dir)
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return (t["customer"]
            .join(urgent,
                  F.col("c_custkey") == F.col("o_custkey"), "left_anti")
            .select("c_custkey", "c_name", "c_mktsegment"))


def customers_without_orders_sql() -> str:
    return """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """


def brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped: discounted revenue per (supplier nation, part
    brand) — lineitem joins part and supplier on their keys, both dims
    broadcast (at full scale part outgrows the broadcast threshold and
    AQE falls back to a shuffle join on stats; the plan needs no change).
    Covers the two driver tables (part, supplier) no other entry touches;
    decimal-exact sums."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    return (li.join(F.broadcast(t["part"]),
                    F.col("l_partkey") == F.col("p_partkey"))
            .join(F.broadcast(t["supplier"]),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(t["nation"]),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy(F.col("n_name").alias("nation"),
                     F.col("p_brand").alias("brand"))
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum(rev).cast("double").alias("revenue")))


def brand_revenue_sql() -> str:
    return """
    SELECT n_name AS nation, p_brand AS brand, count(*) AS n_items,
           sum(l_extendedprice::DECIMAL(18,2)
               * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)))::DOUBLE
               AS revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name, p_brand
    """


def lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-eval step of the pipeline: confusion matrix of predicted vs
    labeled language over the corpus — groupBy(label, prediction) counts
    (map-side partial agg; output O(langs^2))."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (textstats.lang_id(docs)
            .groupBy(F.col("lang").alias("label"),
                     F.col("lang_pred").alias("predicted"))
            .agg(F.count(F.lit(1)).alias("n")))


def lang_id_eval_sql() -> str:
    h = {lang: _sql_hits(lang) for lang in LANGS}
    return f"""
    SELECT lang AS label,
        CASE WHEN greatest({h['de']}, {h['en']}, {h['es']}, {h['fr']}) = 0 THEN 'und'
             WHEN {h['fr']} >= {h['es']} AND {h['fr']} >= {h['en']} AND {h['fr']} >= {h['de']} THEN 'fr'
             WHEN {h['es']} >= {h['en']} AND {h['es']} >= {h['de']} THEN 'es'
             WHEN {h['en']} >= {h['de']} THEN 'en'
             ELSE 'de' END AS predicted,
        count(*) AS n
    FROM documents GROUP BY 1, 2
    """


def events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide daily-counts table back to long form via
    DataFrame.unpivot — the stack() path, one narrow projection per value
    column, no shuffle beyond the pivot's own aggregate. Roundtrip
    property: unpivot(pivot(x)) == groupBy(x), which is exactly what the
    oracle computes."""
    wide = events_pivot(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    return (wide.unpivot("day", types, "event_type", "n")
            .filter(F.col("n") > 0))


def events_unpivot_sql() -> str:
    return """
    SELECT date_trunc('day', ts)::TIMESTAMP AS day, event_type, count(*) AS n
    FROM events GROUP BY 1, 2
    """


def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-scalar-subquery shape ('orders above this customer's
    average'), decorrelated into ONE window pass — no re-scan per outer
    row, no self-join. The per-customer average is computed as an exact
    decimal sum over the partition divided by its count, so the filter is
    deterministic under any parallelism (a double avg is not)."""
    from pyspark.sql import Window
    o = load_tables(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey")
    avg = (F.sum(F.col("o_totalprice").cast(DEC)).over(w)
           / F.count(F.lit(1)).over(w))
    return (o.withColumn("_avg", avg)
            .filter(F.col("o_totalprice").cast(DEC) > F.col("_avg"))
            .select("o_orderkey", "o_custkey", "o_totalprice",
                    F.round(F.col("_avg").cast("double"), 6)
                    .alias("cust_avg")))


def orders_above_customer_avg_sql() -> str:
    return """
    SELECT o_orderkey, o_custkey, o_totalprice,
           round(cavg::DOUBLE, 6) AS cust_avg
    FROM (SELECT *,
                 sum(o_totalprice::DECIMAL(18,2)) OVER w / count(*) OVER w
                     AS cavg
          FROM orders
          WINDOW w AS (PARTITION BY o_custkey))
    WHERE o_totalprice::DECIMAL(18,2) > cavg
    """


def urgent_and_low_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation (SURVEY §2.7): customers who placed BOTH an URGENT
    and a LOW priority order, via INTERSECT (distinct set semantics; the
    plan is an aggregate-dedup join on all columns, scaling like a
    groupBy on the full row)."""
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT") \
        .select("o_custkey")
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return urgent.intersect(low).withColumnRenamed("o_custkey", "c_custkey")


def urgent_and_low_customers_sql() -> str:
    return """
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """


# =============================================================== stream join

def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream join: each purchase attributed to
    the same user's clicks within 1 hour before it (inclusive). The
    streaming form watermarks both sides and the range predicate bounds
    the join state (clicks expire at watermark - lookback); the plan is
    identical — this entry is the oracle-checkable shape."""
    from .streaming import joins as J
    ev = load_tables(spark, sf_dir)["events"]
    return J.purchase_click_attribution(ev, lookback="1 hour")


def stream_join_sql() -> str:
    return """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS click_id, user_id, ts FROM events
               WHERE event_type = 'click')
    SELECT p.purchase_id, p.user_id, p.ts AS p_ts, c.click_id, c.ts AS c_ts
    FROM p JOIN c ON p.user_id = c.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    """


# =============================================================== profiling

def stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distribution profile: count, min/max, exact
    interpolated quantiles (p25/p50/p75/p95). Exact percentile is
    deterministic (a property double-summed moments lack), so the DuckDB
    quantile_cont oracle hash-matches; at 100 TB the same call site takes
    the mergeable approx_percentile sketch via exact=False."""
    from .operators import profiling
    ev = load_tables(spark, sf_dir)["events"]
    return profiling.group_quantiles(ev, "event_type", "value")


def stats_profile_sql() -> str:
    return """
    SELECT event_type, count(*) AS n,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.75), 6) AS p75,
           round(quantile_cont(value, 0.95), 6) AS p95
    FROM events GROUP BY event_type
    """


def stats_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type — pure map-side agg."""
    from .operators import profiling
    ev = load_tables(spark, sf_dir)["events"]
    return profiling.histogram(ev, "event_type", "value", bin_width=25.0)


def stats_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Tukey-fence (1.5 IQR) outlier summary — exact
    quartiles, broadcast bounds join, map-side outlier count."""
    from .operators import profiling
    ev = load_tables(spark, sf_dir)["events"]
    return profiling.iqr_outliers(ev, "event_type", "value")


def stats_outliers_sql() -> str:
    return """
    WITH b AS (SELECT event_type,
                      quantile_cont(value, 0.25) AS q1,
                      quantile_cont(value, 0.75) AS q3
               FROM events GROUP BY event_type)
    SELECT e.event_type, count(*) AS n,
           sum(CASE WHEN e.value < b.q1 - 1.5 * (b.q3 - b.q1)
                      OR e.value > b.q3 + 1.5 * (b.q3 - b.q1)
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
           round(sum(CASE WHEN e.value < b.q1 - 1.5 * (b.q3 - b.q1)
                            OR e.value > b.q3 + 1.5 * (b.q3 - b.q1)
                          THEN 1 ELSE 0 END) / count(*)::DOUBLE, 6)
               AS outlier_frac,
           round(any_value(b.q1), 6) AS q1, round(any_value(b.q3), 6) AS q3
    FROM events e JOIN b USING(event_type)
    GROUP BY e.event_type
    """


def stats_histogram_sql() -> str:
    return """
    SELECT event_type, floor(value / 25.0)::BIGINT AS bin,
           round(floor(value / 25.0) * 25.0, 6) AS bin_lo, count(*) AS n
    FROM events GROUP BY 1, 2, 3
    """


# ==================================================== decontamination etc.

def decontam_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (doc_id >= 20) flagged when
    they share any word 4-gram with the benchmark set (doc_id < 20) —
    the n-gram-overlap check every LLM training pipeline runs against its
    eval sets. Benchmark n-grams are a broadcast; the corpus is one
    scan + explode, shuffled only for the per-doc hit count; grams are
    joined as combined 64-bit word hashes (no per-gram string rebuild —
    4.7x faster at sf0.1, counts verified identical to the string path).
    n=4 on the fixture corpus separates 36 contaminated docs from 444
    clean at sf0.01 (production uses n=8-13; only the width changes)."""
    docs = load_tables(spark, sf_dir)["documents"]
    corpus = docs.filter(F.col("doc_id") >= 20)
    bench = docs.filter(F.col("doc_id") < 20)
    return decontam.decontaminate(corpus, bench, n=4)


def decontam_ngram_sql() -> str:
    return """
    WITH w AS (SELECT doc_id,
                      list_filter(string_split_regex(lower(text),
                                                     '[^a-z0-9]+'),
                                  x -> x <> '') AS w
               FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(w)-3),
                                       i -> array_to_string(w[i:i+3], ' ')))
                     AS ngram
          FROM w WHERE len(w) >= 4),
    bench AS (SELECT DISTINCT ngram FROM g WHERE doc_id < 20),
    hits AS (SELECT g.doc_id, count(*) AS n_hits
             FROM g JOIN bench USING(ngram)
             WHERE g.doc_id >= 20 GROUP BY g.doc_id)
    SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
           coalesce(h.n_hits, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
    LEFT JOIN hits h USING(doc_id)
    """


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: per-doc duplicate-bigram fraction
    and top-word coverage with a keep flag — entirely row-local array
    math (map-only single scan, zero shuffles)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return textstats.repetition_score(docs, n=2)


def text_repetition_sql() -> str:
    return """
    WITH t AS (SELECT doc_id,
                      list_filter(string_split_regex(lower(text),
                                                     '[^a-z0-9]+'),
                                  x -> x <> '') AS w
               FROM documents),
    g AS (SELECT doc_id, w,
                 CASE WHEN len(w) >= 2
                      THEN list_transform(generate_series(1, len(w)-1),
                                          i -> array_to_string(w[i:i+1], ' '))
                      ELSE [] END AS grams
          FROM t)
    SELECT doc_id,
           round(CASE WHEN len(grams) > 0
                      THEN (len(grams) - len(list_distinct(grams)))
                           / len(grams)::DOUBLE
                      ELSE 0 END, 6) AS dup_ngram_frac,
           round(CASE WHEN len(w) > 0
                      THEN list_max(list_transform(list_distinct(w),
                               d -> len(list_filter(w, x -> x = d))))
                           / len(w)::DOUBLE
                      ELSE 0 END, 6) AS top_word_frac,
           (CASE WHEN len(grams) > 0
                 THEN (len(grams) - len(list_distinct(grams)))
                      / len(grams)::DOUBLE ELSE 0 END) <= 0.30
           AND (CASE WHEN len(w) > 0
                     THEN list_max(list_transform(list_distinct(w),
                              d -> len(list_filter(w, x -> x = d))))
                          / len(w)::DOUBLE ELSE 0 END) <= 0.20 AS keep
    FROM g
    """


def source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture weights per source (docs, tokens, token share) —
    the sampling-weight table of a mixture-weighted training pipeline."""
    docs = load_tables(spark, sf_dir)["documents"]
    from .operators import profiling
    return profiling.source_mixture(docs)


def source_mixture_sql() -> str:
    return """
    WITH per AS (SELECT source, count(*) AS n_docs,
                        sum(len(list_filter(string_split_regex(lower(text),
                                                               '[^a-z0-9]+'),
                                            x -> x <> '')))::BIGINT AS n_tokens
                 FROM documents GROUP BY source)
    SELECT source, n_docs, n_tokens,
           round(n_tokens / (SELECT sum(n_tokens) FROM per)::DOUBLE, 9)
               AS weight
    FROM per
    """


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the domain mixture toward uniform: per-source keep rate
    = min(1, uniform_share / current_token_share), applied as the
    portable per-row hash decision (map-only on the fact side; the tiny
    rate table is broadcast). Composition of source_mixture +
    deterministic sampling — the downsampling step of mixture-weighted
    training-data curation, reproducible bit-for-bit across engines."""
    from .operators import profiling, sampling
    docs = load_tables(spark, sf_dir)["documents"]
    mix = profiling.source_mixture(docs)
    n_src = mix.select("source")  # uniform share = 1/n_sources
    rates = (mix.crossJoin(F.broadcast(
        n_src.agg(F.count(F.lit(1)).alias("_k"))))
        .select("source",
                F.least(F.lit(1.0), (1.0 / F.col("_k")) / F.col("weight"))
                .alias("rate")))
    kept = sampling.mixture_sample(docs, "source", rates, "doc_id")
    return kept.select("doc_id", "source")


def mixture_sample_sql() -> str:
    from .functions import portable_hash as PH
    h = PH.duck_ph60("'mix:' || doc_id::VARCHAR")
    return f"""
    WITH per AS (SELECT source, sum(len(list_filter(string_split_regex(
                        lower(text), '[^a-z0-9]+'), x -> x <> '')))
                     AS n_tokens
                 FROM documents GROUP BY source),
    mix AS (SELECT source,
                   round(n_tokens / (SELECT sum(n_tokens) FROM per)::DOUBLE,
                         9) AS weight
            FROM per),
    rates AS (SELECT source,
                     least(1.0, (1.0 / (SELECT count(*) FROM mix)) / weight)
                         AS rate
              FROM mix)
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r USING(source)
    WHERE ({h} % 100000) < floor(r.rate * 100000)::BIGINT
    """


def blocklist_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denylist masking: whole-word blocklist hits counted and replaced
    with [REDACTED] — one map-only regexp pass (the \\b anchors behave
    identically in Java regex and RE2, so the scrubbed text itself is
    oracle-exact, not just the counts)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return decontam.blocklist_scrub(docs, ["crash", "spark"])


def blocklist_scrub_sql() -> str:
    return r"""
    SELECT doc_id,
           len(string_split_regex(text, '\b(crash|spark)\b')) - 1
               AS n_blocked,
           regexp_replace(text, '\b(crash|spark)\b', '[REDACTED]', 'g')
               AS clean_text
    FROM documents
    """


def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine range search (radius query): all corpus vectors with
    cosine >= 0.25 of each of the 5 query vectors — the fixed-threshold
    sibling of top-k (retrieval dedup, near-neighbor expansion). Same
    cosine_join product as brute force, but no window: the kernel
    filters on the threshold itself.

    Threshold 0.25 is fixture-calibrated: it yields 6-51 neighbors per
    query at every SF (0.4 returned 0 rows — a vacuous 0=0 hash match),
    and the nearest cosine to the boundary is >3e-5 away at all three
    SFs, so engine/oracle float drift cannot flip membership."""
    t = load_tables(spark, sf_dir)
    return similarity.range_search(t["embeddings"], _query_vectors(t),
                                   threshold=0.25)


def ann_range_search_sql() -> str:
    return """
    WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
               FROM embeddings ORDER BY vec_id LIMIT 5)
    SELECT q.qid, e.vec_id AS cid,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6)
               AS cosine
    FROM embeddings e CROSS JOIN q
    WHERE list_cosine_similarity(e.embedding::DOUBLE[], q.qv) >= 0.25
      AND e.vec_id <> q.qid
    """


def cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse CDC merge: a deterministic change stream derived from
    orders (keys %7: price restated +10%, status 'M', 5 days later;
    every third of those a tombstone) applied latest-wins onto the base.
    The reduce is max(struct(ts, src, payload)) — map-side partial agg,
    ONE shuffle on the key, no sort window."""
    from .operators import cdc
    orders = load_tables(spark, sf_dir)["orders"]
    # the +10% restatement runs in DECIMAL: double*1.1 lands on half-cent
    # boundaries where Spark (HALF_UP) and DuckDB disagree; decimal
    # arithmetic rounds identically in both engines
    restated = F.round(F.col("o_totalprice").cast("decimal(18,2)")
                       * F.lit("1.1").cast("decimal(3,1)"), 2) \
        .cast("double")
    changes = (orders.filter(F.col("o_orderkey") % 7 == 0)
               .select("o_orderkey", "o_custkey",
                       F.lit("M").alias("o_orderstatus"),
                       restated.alias("o_totalprice"),
                       (F.col("o_orderdate")
                        + F.expr("INTERVAL 5 DAYS")).alias("o_orderdate"),
                       "o_orderpriority",
                       (F.col("o_orderkey") % 3 == 0).alias("_deleted")))
    merged = cdc.merge_latest(orders, changes, keys=["o_orderkey"],
                              ts_col="o_orderdate")
    return merged.select(
        "o_orderkey", "o_orderdate", "o_custkey", "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderpriority")


def cdc_merge_sql() -> str:
    return """
    WITH changes AS (
      SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
             round(o_totalprice::DECIMAL(18,2) * 1.1::DECIMAL(3,1),
                   2)::DOUBLE AS o_totalprice,
             o_orderdate + INTERVAL 5 DAY AS o_orderdate,
             o_orderpriority, (o_orderkey % 3 = 0) AS _deleted
      FROM orders WHERE o_orderkey % 7 = 0),
    all_rows AS (
      SELECT o_orderkey, o_orderdate, 0 AS _src, FALSE AS _deleted,
             o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      FROM orders
      UNION ALL
      SELECT o_orderkey, o_orderdate, 1, _deleted,
             o_custkey, o_orderstatus, o_totalprice, o_orderpriority
      FROM changes),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                   ORDER BY o_orderdate DESC, _src DESC)
                AS rn
      FROM all_rows)
    SELECT o_orderkey, o_orderdate, o_custkey, o_orderstatus,
           round(o_totalprice, 2) AS o_totalprice, o_orderpriority
    FROM ranked WHERE rn = 1 AND NOT _deleted
    """


def fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct part-name pairs within edit distance 1 via FastSS
    deletion-neighborhood banding — candidates meet in a bucketed
    equi-join on deletion signatures (complete for d=1, never
    all-pairs); exact levenshtein verifies candidates only. The DuckDB
    oracle does the brute-force quadratic over distinct names, proving
    the banded plan loses nothing."""
    part = load_tables(spark, sf_dir)["part"]
    return dedup.fuzzy_pairs_levenshtein(part, "p_name")


def fuzzy_part_names_sql() -> str:
    return """
    WITH names AS (SELECT DISTINCT p_name FROM part
                   WHERE p_name IS NOT NULL)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM names a JOIN names b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 1
    """


def customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value deciles: per-customer order spend (decimal-exact),
    exact ntile(10) over (spend desc, custkey) via the DISTRIBUTED
    global-rank recipe (operators.ranking.global_ntile: range shuffle on
    the sort key + per-partition row_number + broadcast partition
    offsets) — never a single-partition window, so the decile
    assignment scales with the customer dimension instead of funneling
    it through one task. Then per-decile size, revenue and share of
    total."""
    from .operators.ranking import global_ntile
    t = load_tables(spark, sf_dir)
    spend = (t["orders"]
             .groupBy("o_custkey")
             .agg(F.sum(F.col("o_totalprice").cast(DEC))
                  .alias("_spend")))
    dec = global_ntile(spend, 10,
                       [F.col("_spend").desc(), F.col("o_custkey").asc()],
                       tile_col="decile")
    total = dec.agg(F.sum("_spend").alias("_tot"))
    return _carry_release(dec, (
        dec.groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.sum("_spend").alias("_rev"))
        .crossJoin(F.broadcast(total))
        .select("decile", "n_customers",
                F.round(F.col("_rev").cast("double"), 2)
                .alias("revenue"),
                # divide as DOUBLES (cast first): decimal-division
                # scale/rounding rules differ between engines, but
                # double division of exact decimals is IEEE-identical
                F.round(F.col("_rev").cast("double")
                        / F.col("_tot").cast("double"), 6)
                .alias("share"))))


def customer_deciles_sql() -> str:
    return """
    WITH spend AS (SELECT o_custkey,
                          sum(o_totalprice::DECIMAL(18,2)) AS s
                   FROM orders GROUP BY o_custkey),
    dec AS (SELECT o_custkey, s,
                   ntile(10) OVER (ORDER BY s DESC, o_custkey ASC)
                       AS decile
            FROM spend)
    SELECT decile, count(*) AS n_customers,
           round(sum(s)::DOUBLE, 2) AS revenue,
           round(sum(s)::DOUBLE / (SELECT sum(s) FROM dec)::DOUBLE, 6)
               AS share
    FROM dec GROUP BY decile
    """


def _frames(kind: str, spark: SparkSession, sf_dir: str, build):
    """Memoized persisted frame (or dict of frames) derived from the
    tables: ``build(tables)`` must return frames that are already
    persisted (and, if it had internal persisted scaffolding, already
    released — see _embedding_kmeans_asg); the memo unpersists them on
    release. Operators also take the derived frame as an explicit
    argument (``base=``/``deg=``/...), so production callers over
    genuinely growing tables own invalidation outright and never touch
    these fixture-shaped memos."""
    return memo(kind, spark, sf_dir, (),
                lambda: build(load_tables(spark, sf_dir)),
                release=_unpersist)


def _unpersist(frames) -> None:
    for f in (frames.values() if isinstance(frames, dict) else (frames,)):
        f.unpersist()


def release_edge_cache() -> int:
    """Release every memoized sf_dir-derived state (table plans,
    persisted frames, fits, codebooks; probe-index trees are retired,
    and purge_probe_indexes or exit deletes them) — one knob for
    callers like bench.py that must leave no persisted frames behind.
    Returns the number of entries released."""
    return release_memos()


def _trade_edges(spark: SparkSession, sf_dir: str):
    """Derived customer-supplier trade-edge table (~30 MB persisted at
    sf0.1), memoized with its iteration-join path (graph.broadcast_path)
    as (frames, broadcast) — shared by graph_pagerank and graph_communities."""
    def build():
        t = load_tables(spark, sf_dir)
        okeys = F.broadcast(t["orders"].select("o_orderkey", "o_custkey"))
        ipairs = (t["lineitem"].select("l_orderkey", "l_suppkey")
                  .join(okeys, F.col("l_orderkey") == F.col("o_orderkey"))
                  .select("o_custkey", "l_suppkey").distinct())
        pairs = ipairs.select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("c"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("s"))
        edges = (pairs.select(F.col("c").alias("src"),
                              F.col("s").alias("dst"))
                 .unionByName(pairs.select(F.col("s").alias("src"),
                                           F.col("c").alias("dst"))))
        from .operators import graph as _graph

        e = edges.persist()
        # deg is a pure function of the immutable edge table — persist
        # it once with it (a full edge aggregate otherwise re-runs on
        # every graph entry invocation). nodes needs NO second edge
        # aggregate here (r18, VERDICT r17 item 4): this edge table is
        # SYMMETRIC by construction (both directions unioned above), so
        # every endpoint appears as a src and node_set(e) ==
        # deg.select(src) exactly — a free projection of the persisted
        # deg instead of node_set's union+distinct exchange over 2x the
        # edges (one fewer persist fill per cache build).
        deg = _graph.out_degrees(e).persist()
        nodes = deg.select(F.col("src").alias("node"))
        # the node count fills the persisted deg the loop reads anyway
        return ({"edges": e, "deg": deg, "nodes": nodes},
                _graph.broadcast_path(nodes))

    return memo("edges", spark, sf_dir, (), build,
                release=lambda v: _unpersist(v[0]))


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-3-iteration PageRank over the bipartite customer-supplier
    graph (distinct trade pairs from orders⋈lineitem, both directions).
    Scaled-INTEGER arithmetic (BIGINT ranks x1e12, integer division):
    bit-exact at any parallelism and reproduced verbatim by the DuckDB
    oracle — float PageRank could never hash-match across engines.
    Output: top 20 nodes by rank."""
    from .operators import graph
    g, bc = _trade_edges(spark, sf_dir)
    pr = graph.pagerank(g["edges"], iters=3, deg=g["deg"],
                        nodes=g["nodes"], broadcast_ranks=bc)
    return _carry_release(
        pr, pr.orderBy(F.col("rank").desc(), F.col("node").asc()).limit(20))


def graph_pagerank_sql() -> str:
    it = """
    SELECT n.node,
           {base} + (85 * coalesce(s.t, 0)) // 100 AS rank
    FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank // d.d) AS t
        FROM edges e JOIN {prev} r ON e.src = r.node
                     JOIN deg d ON e.src = d.src
        GROUP BY e.dst) s USING(node)
    """
    base = (15 * 10 ** 12) // 100
    return f"""
    WITH pairs AS (
      SELECT DISTINCT 'c' || o.o_custkey AS c, 's' || l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    edges AS (SELECT c AS src, s AS dst FROM pairs
              UNION ALL SELECT s, c FROM pairs),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    r0 AS (SELECT node, 1000000000000::BIGINT AS rank FROM nodes),
    r1 AS ({it.format(base=base, prev="r0")}),
    r2 AS ({it.format(base=base, prev="r1")}),
    r3 AS ({it.format(base=base, prev="r2")})
    SELECT node, rank::BIGINT AS rank FROM r3
    ORDER BY rank DESC, node ASC LIMIT 20
    """


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel, each stage within 24 h of
    the previous one: staged min-over-window columns in ONE user
    partitioning (single exchange, zero joins). 150 -> 60 -> 25 users at
    sf0.01 — the tolerance makes the funnel actually discriminate on the
    fixture's ~11 h inter-event gaps."""
    from .operators import behavior
    ev = load_tables(spark, sf_dir)["events"]
    return behavior.funnel_stages(ev, ["view", "click", "purchase"],
                                  tolerance_sec=86400)


def event_funnel_sql() -> str:
    return """
    WITH u1 AS (SELECT user_id,
                       min(ts) FILTER (WHERE event_type='view') AS t1
                FROM events GROUP BY user_id),
    u2 AS (SELECT e.user_id, any_value(u1.t1) AS t1,
                  min(e.ts) FILTER (WHERE e.event_type='click'
                                    AND e.ts > u1.t1
                                    AND e.ts <= u1.t1 + INTERVAL 86400
                                                        SECOND) AS t2
           FROM events e JOIN u1 USING(user_id) GROUP BY e.user_id),
    u3 AS (SELECT e.user_id, any_value(u2.t1) AS t1,
                  any_value(u2.t2) AS t2,
                  min(e.ts) FILTER (WHERE e.event_type='purchase'
                                    AND e.ts > u2.t2
                                    AND e.ts <= u2.t2 + INTERVAL 86400
                                                        SECOND) AS t3
           FROM events e JOIN u2 USING(user_id) GROUP BY e.user_id)
    SELECT 1 AS stage, 'view' AS step, count(t1)::BIGINT AS n_users FROM u3
    UNION ALL SELECT 2, 'click', count(t2)::BIGINT FROM u3
    UNION ALL SELECT 3, 'purchase', count(t3)::BIGINT FROM u3
    """


def user_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by the week of their first
    event; per (cohort_start, period_offset) cell the distinct active
    users and retention rate. First-activity bucket via min-over-window
    (no user-dimension join-back); two shuffles total."""
    from .operators import behavior
    ev = load_tables(spark, sf_dir)["events"]
    return behavior.cohort_retention(ev, bucket="week")


def user_cohorts_sql() -> str:
    return """
    WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_start
               FROM events GROUP BY user_id),
    a AS (SELECT e.user_id, f.cohort_start,
                 (date_diff('second', f.cohort_start,
                            date_trunc('week', e.ts)) // 604800)::BIGINT
                     AS period_offset
          FROM events e JOIN f USING(user_id)),
    act AS (SELECT cohort_start, period_offset,
                   count(DISTINCT user_id) AS n_active
            FROM a GROUP BY 1, 2)
    SELECT act.cohort_start::TIMESTAMP AS cohort_start, act.period_offset,
           act.n_active, round(act.n_active / s.n0::DOUBLE, 6) AS retention
    FROM act JOIN (SELECT cohort_start, n_active AS n0 FROM act
                   WHERE period_offset = 0) s USING(cohort_start)
    """


# =============================================================== PQ ANN

def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, oracle-gated on recall (same contract as
    ann_ivf_topk): the entry emits the EXACT top-k rows for each query
    whose PQ+rerank result achieves recall >= 0.85 vs brute force; the
    oracle computes the exact top-k for ALL queries, so hashes match iff
    every query clears the bar. PQ shape at 100 TB: corpus encoded once
    into m one-byte codes (m=16 on these 64-dim float32 vectors: 16x
    smaller — the ADC scan reads only codes), each query ships an m*ksub
    lookup table, and the exact rerank touches rerank*k candidates per
    query. Fixture params are high-resolution (dsub=4) because the
    synthetic embeddings are near-uniform — the no-cluster-structure
    regime where quantization error dominates; measured min recall 1.0 at
    sf0.001 and 0.9 at sf0.01 with rerank=8; rerank=24 lifts min recall
    to 1.0 at sf0.1 too (verified at all three fixture SFs — candidates
    are a superset, so recall is monotone in rerank)."""
    t = load_tables(spark, sf_dir)
    q = _query_vectors(t)
    k = 10
    emb = t["embeddings"]
    books = memo("codebook:pq:embedding", spark, sf_dir, (16, 16),
                 lambda: similarity.train_pq_codebooks(emb, m=16, ksub=16))
    pq = similarity.pq_topk(emb, q, k=k, m=16, ksub=16, rerank=24,
                            books=books).select("qid", "cid")
    return _recall_gated(emb, q, pq, k)


def ann_pq_topk_sql() -> str:
    return ann_bruteforce_topk_sql()


def ann_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-rotated PQ ANN (similarity.opq_topk), oracle-gated on recall
    with the same contract as ann_pq_topk / ann_ivf_topk: exact top-k
    emitted per query iff the approximate result clears recall >= 0.85
    vs brute force. The rotation (similarity.opq_rotation — parametric
    OPQ after Ge et al. 2013) is fit from the distributed d²-bounded
    gram aggregate (operators.linalg), eigenvalue-balanced across the
    m subspaces, and applied as a map-only Arrow pass; cosine is
    rotation-invariant so the rerank stays exact. On these near-uniform
    synthetic embeddings OPQ matches plain PQ (nothing to decorrelate —
    measured min recall 1.0 at all three fixture SFs); on real
    correlated embeddings the balanced subspaces are what keep ADC
    recall from collapsing, at the identical scale shape (codes-only
    scan + broadcast LUTs + bounded rerank)."""
    t = load_tables(spark, sf_dir)
    q = _query_vectors(t)
    k = 10
    emb = t["embeddings"]
    rot = memo("codebook:opq_rotation:embedding", spark, sf_dir, (16,),
               lambda: similarity.opq_rotation(emb, m=16))
    # the rotated-space books are their own kind ("_rv" vec_col), so
    # they never evict the plain-PQ books of ann_pq_topk
    books = memo("codebook:pq:_rv", spark, sf_dir, (16, 16),
                 lambda: similarity.train_pq_codebooks(
                     similarity.opq_rotate(emb, rot), "_rv", m=16, ksub=16))
    opq = similarity.opq_topk(emb, q, k=k, m=16, ksub=16, rerank=24,
                              rotation=rot, books=books).select("qid", "cid")
    return _recall_gated(emb, q, opq, k)


def ann_opq_topk_sql() -> str:
    return ann_bruteforce_topk_sql()


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column —
    the 4x storage tier below PQ, deterministic and exactly
    oracle-checkable (scale = max|x|/127, round-half-away matching both
    engines)). qvec is serialized to a comma-joined string so the driver's
    pandas canonicalizer (which sorts rows) can hash it — pandas cannot
    sort a raw list column."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = similarity.quantize_int8(emb)
    return q.select(
        "vec_id", "scale",
        F.array_join(F.transform("qvec", lambda x: x.cast("string")),
                     ",").alias("qvec"))


def embedding_quantize_sql() -> str:
    return """
    SELECT vec_id, round(scale, 9) AS scale,
           array_to_string(list_transform(v, x -> round(x / scale)::INT),
                           ',') AS qvec
    FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
                 CASE WHEN list_max(list_transform(embedding::DOUBLE[],
                                                   x -> abs(x))) > 0
                      THEN list_max(list_transform(embedding::DOUBLE[],
                                                   x -> abs(x))) / 127.0
                      ELSE 1.0 END AS scale
          FROM embeddings)
    """


# ------------------------------------------------- embedding linalg

def _pca_fit(spark: SparkSession, sf_dir: str, k: int):
    """Memoized PCA fit: two bounded collects (d² gram cells + d column
    sums); the numpy tuple is kilobytes, nothing to release."""
    from .operators import linalg
    return memo("pca_fit", spark, sf_dir, (k,), lambda: linalg.fit_pca(
        load_tables(spark, sf_dir)["embeddings"], k, "embedding"))


def _guarded_bigint(col, msg_col):
    """decimal -> BIGINT with a fail-loud overflow guard: default
    (non-ANSI) Spark silently NULLs an overflowing decimal->long cast;
    this raises with ``msg_col`` instead. The bounds are asymmetric
    (BIGINT min is -2^63, max 2^63-1), so an abs() guard would
    spuriously reject the representable -2^63."""
    lo = F.lit(-9223372036854775808).cast("decimal(38,0)")
    hi = F.lit(9223372036854775807).cast("decimal(38,0)")
    return (F.when((col >= lo) & (col <= hi), col.cast("long"))
            .otherwise(F.raise_error(msg_col).cast("long")))


def embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram / second-moment matrix of the embedding column
    (operators.linalg.gram_matrix): upper triangle (i, j, gram_scaled)
    where gram_scaled = sum over rows of floor(x_i * x_j * 1e12).
    Engine-exact by the scaled-integer contract (per-row floor BEFORE
    any summation), so the DuckDB oracle matches bit-for-bit. Scale
    shape: each Arrow batch reduces to one d×d partial — the exchange
    carries d² rows per partition regardless of corpus size, the tree-
    aggregate shape PCA/whitening/OPQ fitting needs at 100 TB."""
    from .operators import linalg
    emb = load_tables(spark, sf_dir)["embeddings"]
    # entry boundary: the operator's overflow-proof decimal sum lands as
    # BIGINT (driver-green type; fixture max |cell| ~2.4e14 << 2^63 —
    # the decimal form is for extreme-scale callers, not the gate).
    # The cast is GUARDED (r10): in default non-ANSI mode an overflowing
    # decimal->long cast silently yields NULL, contrary to the repo's
    # fail-loud posture — beyond-fixture scale must raise, not null out.
    return (linalg.gram_matrix(emb, "embedding")
            .select("i", "j",
                    _guarded_bigint(
                        F.col("gram_scaled"),
                        F.concat(F.lit("embedding_gram: gram_scaled "
                                       "overflows BIGINT at cell ("),
                                 F.col("i").cast("string"), F.lit(","),
                                 F.col("j").cast("string"),
                                 F.lit(") — surface the decimal form "
                                       "instead"))).alias("gram_scaled")))


def embedding_gram_sql() -> str:
    return """
    WITH idx AS (SELECT unnest(range(1, 65))::INT AS i),
    pairs AS (SELECT a.i AS i, b.i AS j
              FROM idx a JOIN idx b ON a.i <= b.i)
    SELECT p.i, p.j,
           sum(floor(e.embedding[p.i]::DOUBLE
                     * e.embedding[p.j]::DOUBLE * 1e12)::BIGINT)::BIGINT
               AS gram_scaled
    FROM embeddings e CROSS JOIN pairs p
    WHERE e.embedding IS NOT NULL
    GROUP BY 1, 2
    """


def embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA WHITENING certificate — the oracle-able face of the PCA
    pipeline (fit from the distributed gram + mean, map-only projection;
    operators.linalg). Whitened projections have population covariance
    EXACTLY the identity, so the entry emits the k×k covariance of the
    projected corpus (computed with the same scaled-integer gram
    operator) rounded to 6 dp: every cell is 1.0 on the diagonal and 0.0
    off it IFF the whole distributed pipeline — gram, mean, eigh basis,
    whitening scale, projection — is right. A wrong mean, a dropped
    component, a mis-scaled eigenvalue or a non-orthogonal basis all
    break the identity, so the constant-valued oracle is a real gate
    (same self-certifying pattern as the recall-gated IVF entry).
    + 0.0 folds IEEE -0.0 from tiny negative fuzz into +0.0 so both
    engines hash identically."""
    from .operators import linalg
    k = 8
    emb = load_tables(spark, sf_dir)["embeddings"]
    fit = _pca_fit(spark, sf_dir, k)
    proj = linalg.pca_project(emb, k, whiten=True, fit=fit)
    n = float(fit[3])
    g = linalg.gram_matrix(proj, "proj", dim=k)
    return g.select(
        "i", "j",
        (F.round(F.col("gram_scaled").cast("double")
                 / F.lit(float(linalg.GRAM_SCALE)) / F.lit(n), 6)
         + F.lit(0.0)).alias("cov"))


def embedding_pca_sql() -> str:
    return """
    WITH idx AS (SELECT unnest(range(1, 9))::INT AS i)
    SELECT a.i AS i, b.i AS j,
           (CASE WHEN a.i = b.i THEN 1.0 ELSE 0.0 END)::DOUBLE AS cov
    FROM idx a JOIN idx b ON a.i <= b.i
    """


_DSIR_TARGET = "'src0', 'src1', 'src2'"  # the curated-sample stand-in
_DSIR_K = 100


def _probe_features(docs: DataFrame):
    """The quality-probe design frame: three deterministic document
    features + the curated-sample label, every double computed by IEEE
    ops the DuckDB oracle replays verbatim."""
    toks = F.size(F.filter(F.split(F.lower(F.col("text")), r"[^a-z]+"),
                           lambda t: t != "")).cast("double")
    nc = F.col("n_chars").cast("double")
    return docs.select(
        (nc / F.lit(1000.0)).alias("f_len"),
        (toks / F.lit(100.0)).alias("f_tok"),
        (nc / (toks + F.lit(1.0)) / F.lit(10.0)).alias("f_awl"),
        F.when(F.col("source").isin("src0", "src1", "src2"),
               F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"))


_PROBE_FEATS = ["f_len", "f_tok", "f_awl"]
_PROBE_LAM = 1e-6


def _probe_fit(spark: SparkSession, sf_dir: str):
    """Memoized bounded probe fit: the d²-row moment collect and the
    driver ridge solve run on the first construction only."""
    from .operators import linalg

    def fit():
        feat = _probe_features(load_tables(spark, sf_dir)["documents"])
        rows = linalg.design_moments(feat, _PROBE_FEATS, "y").collect()
        return linalg.solve_ridge(rows, len(_PROBE_FEATS), _PROBE_LAM)

    return memo("probe_fit", spark, sf_dir, (), fit)


def quality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form linear quality classifier (fasttext-style probe
    without the embedding lookup; operators.linalg.fit_ridge): ONE
    d²-bounded corpus pass collects the engine-exact normal-equation
    moments (features + bias + label through the scaled-integer gram),
    the driver solves the (k+1)×(k+1) ridge system, and scoring any
    corpus is a pure-Catalyst projection (linalg.linear_score — no UDF,
    no shuffle). The entry emits BOTH faces: the 15 moment cells
    verbatim ('m' rows — the distributed computation, value-checked by
    the oracle's identical SQL pipeline) and the normal-equation
    residual certificate ('r' rows — all 0.0 iff the solve is
    consistent with those moments; relative residual rounded to 6 dp,
    the embedding_pca self-certifying pattern)."""
    from .operators import linalg
    docs = load_tables(spark, sf_dir)["documents"]
    feat = _probe_features(docs)
    moments = linalg.design_moments(feat, _PROBE_FEATS, "y")
    _w, _n, resid = _probe_fit(spark, sf_dir)
    mrows = moments.select(
        F.lit("m").alias("kind"), "i", "j",
        F.col("gram_scaled").cast("string").alias("val"))
    rrows = spark.createDataFrame(
        [("r", i + 1, 1, str(round(float(v), 6) + 0.0))
         for i, v in enumerate(resid)],
        "kind string, i int, j int, val string")
    return mrows.unionAll(rrows)


def quality_probe_sql() -> str:
    k1 = len(_PROBE_FEATS) + 1
    return f"""
    WITH base AS (
        SELECT n_chars::DOUBLE AS nc,
               len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                               t -> t <> ''))::DOUBLE AS tok,
               CASE WHEN source IN ({_DSIR_TARGET})
                    THEN 1.0 ELSE 0.0 END AS y
        FROM documents),
    f AS (SELECT list_value(nc / 1000.0, tok / 100.0,
                            nc / (tok + 1.0) / 10.0, 1.0, y) AS x
          FROM base),
    idx AS (SELECT unnest(range(1, 6))::INT AS i),
    pairs AS (SELECT a.i AS i, b.i AS j
              FROM idx a JOIN idx b ON a.i <= b.i)
    SELECT 'm' AS kind, p.i, p.j,
           sum(floor(f.x[p.i] * f.x[p.j] * 1e12)::BIGINT)::VARCHAR AS val
    FROM f CROSS JOIN pairs p
    GROUP BY 2, 3
    UNION ALL
    SELECT 'r', unnest(range(1, {k1 + 1}))::INT, 1, '0.0'
    """


def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped importance selection (operators.selection): score the
    raw corpus (sources outside the target set) by hashed-bigram
    likeness to the target sample (src0-src2), keep the deterministic
    top-100 as (doc_id, score, sel_rank). Engine-exact: portable ph28
    bucketing + integer-DIV weights summed per doc — no floats anywhere
    in the ranking, so the DuckDB oracle reproduces the cut exactly.
    Scale shape: both count tables and the weight table are bounded by
    ``buckets`` rows (broadcast), the corpus-sized work is ONE per-doc
    aggregate, and the cut is TakeOrderedAndProject."""
    from .operators import selection
    docs = load_tables(spark, sf_dir)["documents"]
    tgt = F.col("source").isin("src0", "src1", "src2")
    return selection.dsir_select(
        docs.filter(~tgt), docs.filter(tgt), k=_DSIR_K)


def dsir_select_sql() -> str:
    from .operators import selection
    return selection.duck_dsir_sql(
        raw_pred=f"source NOT IN ({_DSIR_TARGET})",
        target_pred=f"source IN ({_DSIR_TARGET})", k=_DSIR_K)


def _lm_ref(docs: DataFrame) -> DataFrame:
    return docs.filter(F.col("source").isin("src0", "src1", "src2"))


def lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM document scoring (operators.lm; public
    Wenzek 2020 / Brants 2007 recipes): train the stupid-backoff model
    on the curated stand-in slice (src0-src2 — the same target set as
    dsir_select), score EVERY document. Engine-exact: per-position
    log-probs are floored to the 1e-6 grid and summed as BIGINT
    micro-nats, so the DuckDB twin reproduces lp_micro bit-for-bit.
    Scale shape: model tables bounded by top_v + observed bigrams
    (broadcast); the corpus is never shuffled for the lookup."""
    from .operators import lm
    docs = load_tables(spark, sf_dir)["documents"]
    return lm.lm_score(docs, _lm_ref(docs))


def lm_score_sql() -> str:
    from .operators import lm
    return lm.duck_lm_score_sql(f"source IN ({_DSIR_TARGET})")


def lm_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail split of lm_score via the distributed
    exact-ntile recipe (operators.ranking.global_ntile — never a
    single-partition window). The ordering key is one division of two
    exact BIGINTs; ties break on doc_id, so the cut is deterministic
    and the DuckDB ntile oracle reproduces it exactly. Forwards the
    ntile range-boundary cache's release handle for the bench."""
    from .operators import lm
    docs = load_tables(spark, sf_dir)["documents"]
    return lm.lm_bucket(lm.lm_score(docs, _lm_ref(docs)))


def lm_bucket_sql() -> str:
    from .operators import lm
    return lm.duck_lm_bucket_sql(f"source IN ({_DSIR_TARGET})")


_ML_OUT = ("'src10', 'src11', 'src12', 'src13', 'src14', "
           "'src15', 'src16', 'src17', 'src18', 'src19'")
_ML_K = 100


def moore_lewis_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moore-Lewis cross-entropy-difference selection (operators.lm
    .moore_lewis_select; Moore & Lewis 2010): in-domain LM on the
    curated stand-in (src0-src2, the DSIR target set), out-of-domain LM
    on the general pool (src10-src19), deterministic top-100 by the
    per-token log-likelihood gap. Engine-exact: diff_micro is a
    difference of two BIGINT micro-nat sums and the cut orders on one
    IEEE division — the DuckDB twin reproduces the exact top-k."""
    from .operators import lm
    docs = load_tables(spark, sf_dir)["documents"]
    out_ref = docs.filter(F.expr(f"source IN ({_ML_OUT})"))
    return lm.moore_lewis_select(docs, _lm_ref(docs), out_ref, k=_ML_K)


def moore_lewis_select_sql() -> str:
    from .operators import lm
    return lm.duck_moore_lewis_sql(
        f"source IN ({_DSIR_TARGET})", f"source IN ({_ML_OUT})", k=_ML_K)


# ===================================================== NB quality classifier

_NB_POS = f"source IN ({_DSIR_TARGET})"      # curated stand-in (= DSIR/LM)
_NB_NEG = f"source NOT IN ({_DSIR_TARGET})"  # the raw pool


def _nb_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scored frame shared by nb_quality_score / nb_pareto_filter — in
    the SCALE SHAPE nb_score's own docstring prescribes (r12 verdict
    item #1): nb_model is built ONCE, its 1-row consts collected
    through the memoized _nb_quality_params (fingerprint-bounded, so
    the lazy-construction gate's second build stays job-free) and
    re-entering the plan as literal columns over a 1-row local
    relation. The scoring plan then instantiates the training subtree
    exactly once — the vocab broadcast join; ONE aggregate over each
    class per plan (plan-shape lock: test_round13) — instead of the
    lazy one-shot form's two, which re-aggregated a 100 TB negative
    class twice per action. Values are bit-identical: the literals are
    the same BIGINTs the column form carried, entering the same
    (c+1)/(N+V) doubles."""
    from .operators import classifier
    docs = load_tables(spark, sf_dir)["documents"]
    vocab, consts = classifier.nb_model(docs.filter(F.expr(_NB_POS)),
                                        docs.filter(F.expr(_NB_NEG)))
    p = _nb_quality_params(spark, sf_dir, consts)
    consts_lit = spark.range(1).select(
        *[F.lit(int(p[k])).cast("long").alias(k)
          for k in ("n_pos", "n_neg", "v", "d_pos", "d_neg")])
    return classifier.nb_score(docs, model=(vocab, consts_lit))


def nb_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style quality classifier (operators.classifier; Brown et
    al. 2020 Appendix A, re-expressed with multinomial Naive Bayes so
    training is pure counting): positive class = the curated stand-in
    slice (src0-src2, the DSIR/LM target set), negative = the rest;
    every document scored. Engine-exact: per-token log-probs and both
    priors are floored micro-nats summed as BIGINTs, so the DuckDB twin
    reproduces score_micro bit-for-bit. Scale shape (demonstrated by
    THIS entry's plan, not just documented — see _nb_scored): the model
    is ONE <= top_v-row broadcast table carrying both class counts plus
    five literal consts; each class is aggregated once per plan; the
    corpus is never shuffled at token grain."""
    return _nb_scored(spark, sf_dir)


def nb_quality_score_sql() -> str:
    from .operators import classifier
    return classifier.duck_nb_score_sql(_NB_POS, _NB_NEG)


def nb_pareto_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3's documented Pareto admission rule over the NB scores
    (operators.classifier.pareto_filter): keep a document iff a
    Pareto(9) sample drawn DETERMINISTICALLY from its portable md5 hash
    exceeds 1 - quality, quality mapping the per-token log-odds onto
    [0, 1]. The CDF inversion avoids pow() (a multiplication chain), so
    the kept set is bit-reproducible in DuckDB. Map-only over the
    scored frame; append-stable admission at any scale."""
    from .operators import classifier
    return classifier.pareto_filter(_nb_scored(spark, sf_dir))


def nb_pareto_filter_sql() -> str:
    from .operators import classifier
    return classifier.duck_pareto_filter_sql(_NB_POS, _NB_NEG)


# ============================================= r13: training-mix operators

_TBS_BUDGET = 8000        # tokens — selective at every fixture SF
_TBS_ORDER = "score_micro DESC, doc_id ASC"


def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered selection under an exact global TOKEN budget
    (operators.sampling.token_budget_select; the data-constrained
    recipe: rank by quality, cut by tokens, not docs): documents
    ordered by the NB classifier's exact BIGINT log-odds (best first,
    ties on doc_id), kept while the exact global running token total
    stays within 8000 tokens. The running total is
    ranking.global_cumsum — global_rank's recipe generalized from
    counting rows to summing integral weights (range exchange + P-row
    weight offsets; never a single-partition window) — so the kept set
    is a pure function of (scores, token counts), reproducible across
    cluster sizes and in the DuckDB window twin."""
    from .operators import sampling
    scored = _nb_scored(spark, sf_dir)
    out = sampling.token_budget_select(
        scored, _TBS_BUDGET,
        [F.col("score_micro").desc(), F.col("doc_id").asc()],
        "n_tokens")
    return _carry_release(out, out.select(
        "doc_id", "n_tokens", "score_micro", "select_rank",
        "cum_tokens"))


def token_budget_select_sql() -> str:
    from .operators import classifier, sampling
    return ("WITH " + classifier._duck_nb_ctes(_NB_POS, _NB_NEG)
            + sampling.duck_token_budget_sql(
                "nbscored", _TBS_BUDGET, _TBS_ORDER, "n_tokens",
                "doc_id, n_tokens, score_micro"))


_MIXT_K, _MIXT_ALPHA = 200, 0.5


def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling over the (skewed) language
    column (operators.sampling.mixture_temperature; the mBERT/XLM-R
    alpha-sampling rule, alpha=0.5): per-language targets proportional
    to count^alpha with exact largest-remainder integer allocation
    (sum(target) == 200 exactly; sqrt is the one IEEE step and it is
    correctly rounded, so the DuckDB twin reproduces the allocation
    bit-for-bit), then each language keeps its first target_n docs in
    portable hash order. Weight/target table bounded by the number of
    languages and broadcast; one per-group rank shuffle over the
    corpus."""
    from .operators import sampling
    docs = load_tables(spark, sf_dir)["documents"]
    return sampling.mixture_temperature(docs, "lang", "doc_id",
                                        _MIXT_K, alpha=_MIXT_ALPHA)


def mixture_temperature_sql() -> str:
    from .operators import sampling
    return sampling.duck_mixture_temperature_sql(
        "lang", "doc_id", _MIXT_K, alpha=_MIXT_ALPHA)


_CURR_STAGES = 4


def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum reading order (operators.sampling.curriculum_order;
    Bengio et al. 2009): four exact quality quartiles over the NB
    log-odds (stage 1 = highest quality = easiest), shuffled within
    stage by the portable salted hash, final position from the
    distributed global_rank, sharded with the corpus_shuffle layout.
    Two range exchanges by construction (quantile cut, then staged
    order) — each on a narrow key; stage assignment is the exact
    distributed ntile (ranking.global_ntile), bit-identical to SQL
    ntile."""
    from .operators import sampling
    scored = _nb_scored(spark, sf_dir)
    out = sampling.curriculum_order(
        scored, [F.col("score_micro").desc(), F.col("doc_id").asc()],
        _CURR_STAGES, "doc_id", shard_size=_SHUF_SHARD)
    return _carry_release(out, out.select(
        "doc_id", F.col("stage").cast("long").alias("stage"),
        "curriculum_rank", "shard", "shard_pos"))


def curriculum_order_sql() -> str:
    from .operators import classifier, sampling
    return ("WITH " + classifier._duck_nb_ctes(_NB_POS, _NB_NEG)
            + sampling.duck_curriculum_sql(
                "nbscored", _TBS_ORDER, _CURR_STAGES, "doc_id",
                shard_size=_SHUF_SHARD))


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup canonicalization (operators.dedup
    .keep_best): connected components over the oracle-expressible
    token-jaccard pair set (the dedup_groups derivation, one
    definition), then each component keeps its HIGHEST-NB-scored
    member (ties on doc_id) instead of the arbitrary min-id
    representative — near-dups waste tokens, so keep the best-written
    copy. One id equi-join + one component-keyed window; components
    are small, so the window is skew-safe."""
    from .operators import dedup
    t = load_tables(spark, sf_dir)
    pairs = dedup_token_jaccard(spark, sf_dir)
    groups = dedup.dedup_groups(t["documents"], pairs)
    out = dedup.keep_best(groups, _nb_scored(spark, sf_dir))
    return out.select("doc_id", "component", "score_micro", "n_members")


def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-contamination QA (operators.sampling.split_leakage): the
    near-dup pairs (token-jaccard derivation, shared with dedup_groups)
    whose endpoints hash into DIFFERENT train/val/test splits — the
    leak an eval set must not have (a test doc with a train near-twin
    is measured memorized, not generalized). Because hash_split is a
    pure function of the id, both endpoints' splits are stamped INLINE
    (no join against an assignment table): the check is MAP-ONLY over
    the pair frame and adds zero shuffles to the dedup pipeline it
    rides."""
    from .operators import sampling
    pairs = dedup_token_jaccard(spark, sf_dir)
    out = sampling.split_leakage(pairs.select("id_a", "id_b"))
    return out.select("id_a", "id_b", "split_a", "split_b")


def split_leakage_check_sql() -> str:
    from .operators import sampling
    case_a = sampling.duck_split_case(
        sampling.duck_bucket_sql("u", "split", 1000))
    case_b = sampling.duck_split_case(
        sampling.duck_bucket_sql("v", "split", 1000))
    return f"""
    WITH {_DUCK_PAIRS_CTES}
    SELECT u AS id_a, v AS id_b, split_a, split_b
    FROM (SELECT u, v, {case_a} AS split_a, {case_b} AS split_b
          FROM pairs)
    WHERE split_a <> split_b
    """


def clean_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontaminated eval set (operators.sampling.clean_holdout):
    test-split documents with NO near-duplicate in the train split —
    what split_leakage_check detects, this DELIVERS. Splits are
    stamped inline (pure function of the id); offenders are removed
    with one left-anti id join over the shared token-jaccard pair
    derivation."""
    from .operators import sampling
    t = load_tables(spark, sf_dir)
    pairs = dedup_token_jaccard(spark, sf_dir).select("id_a", "id_b")
    out = sampling.clean_holdout(t["documents"], pairs)
    return out.select("doc_id", "source", "lang")


def clean_holdout_sql() -> str:
    from .operators import sampling
    case_d = sampling.duck_split_case(
        sampling.duck_bucket_sql("d.doc_id", "split", 1000))
    case_u = sampling.duck_split_case(
        sampling.duck_bucket_sql("p.u", "split", 1000))
    case_v = sampling.duck_split_case(
        sampling.duck_bucket_sql("p.v", "split", 1000))
    return f"""
    WITH {_DUCK_PAIRS_CTES}
    SELECT d.doc_id AS doc_id, d.source AS source, d.lang AS lang
    FROM documents d
    WHERE {case_d} = 'test'
      AND NOT EXISTS (SELECT 1 FROM pairs p
                      WHERE (p.u = d.doc_id AND {case_v} = 'train')
                         OR (p.v = d.doc_id AND {case_u} = 'train'))
    """


_CAL_K = 10


def nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration diagnostic (operators.classifier
    .score_calibration): exact NB-score deciles (distributed ntile,
    ties on doc_id) vs the true class rate per decile — the eval loop
    a production quality gate runs to pick its admission quantile.
    One id-grain join + a bounded 10-row aggregate."""
    from .operators import classifier
    docs = load_tables(spark, sf_dir)["documents"]
    scored = _nb_scored(spark, sf_dir)
    labels = docs.select(
        "doc_id",
        F.expr(f"CASE WHEN {_NB_POS} THEN 1 ELSE 0 END").alias("is_pos"))
    out = classifier.score_calibration(scored, labels, k=_CAL_K)
    return _carry_release(out, out.select("tile", "n_docs", "n_pos"))


def nb_calibration_sql() -> str:
    from .operators import classifier
    return f"""
    WITH {classifier._duck_nb_ctes(_NB_POS, _NB_NEG)},
    caltiles AS (SELECT doc_id,
                        ntile({_CAL_K}) OVER (ORDER BY score_micro DESC,
                                              doc_id ASC) AS tile
                 FROM nbscored)
    SELECT tile::BIGINT AS tile, count(*)::BIGINT AS n_docs,
           sum(CASE WHEN {_NB_POS} THEN 1 ELSE 0 END)::BIGINT AS n_pos
    FROM caltiles JOIN documents USING (doc_id)
    GROUP BY 1
    """


_TBS_GROUP_BUDGET = 800


def token_budget_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE token-budget cut (operators.sampling
    .token_budget_select_per_group): every source independently keeps
    its best documents (NB log-odds order) until 800 tokens — the
    per-domain cap of a training mix. Strictly cheaper than the global
    cut: ONE hash shuffle on the source key and an ordinary
    PARTITIONED window (no range exchange, no offset bookkeeping),
    fully parallel across sources."""
    from .operators import sampling
    docs = load_tables(spark, sf_dir)["documents"]
    scored = (_nb_scored(spark, sf_dir)
              .join(docs.select("doc_id", "source"), "doc_id"))
    out = sampling.token_budget_select_per_group(
        scored, "source", _TBS_GROUP_BUDGET,
        [F.col("score_micro").desc(), F.col("doc_id").asc()],
        "n_tokens")
    return _carry_release(out, out.select(
        "doc_id", "source", "n_tokens", "score_micro", "select_rank",
        "cum_tokens"))


def token_budget_per_source_sql() -> str:
    from .operators import classifier, sampling
    return ("WITH " + classifier._duck_nb_ctes(_NB_POS, _NB_NEG)
            + ", tbps AS (SELECT s.*, d.source FROM nbscored s "
            + "JOIN documents d USING (doc_id))"
            + sampling.duck_token_budget_per_group_sql(
                "tbps", "source", _TBS_GROUP_BUDGET, _TBS_ORDER,
                "n_tokens", "doc_id, source, n_tokens, score_micro"))


def dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication telemetry — the QA readout a corpus
    pipeline publishes after dedup: per source, its document count,
    how many documents sit in a multi-member near-dup group, and how
    many distinct groups it holds (all exact BIGINTs; ratios are the
    reader's division — no float in the gate). Composes the shared
    dedup_groups derivation with operators.dedup.rate_report (one
    component-size aggregate + one per-source rollup; bounded)."""
    from .operators import dedup
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    pairs = dedup_token_jaccard(spark, sf_dir)
    return dedup.rate_report(dedup.dedup_groups(docs, pairs), docs)


def dedup_rate_report_sql() -> str:
    return f"""
    WITH RECURSIVE {_DUCK_GROUPS_CTES},
    sizes AS (SELECT component, count(*) AS sz
              FROM comp GROUP BY component)
    SELECT d.source AS source, count(*)::BIGINT AS n_docs,
           sum(CASE WHEN s.sz > 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_dup_docs,
           count(DISTINCT c.component)::BIGINT AS n_groups
    FROM comp c JOIN sizes s USING (component)
    JOIN documents d USING (doc_id)
    GROUP BY d.source
    """


def dedup_keep_best_sql() -> str:
    from .operators import classifier
    return f"""
    WITH RECURSIVE {_DUCK_GROUPS_CTES},
    {classifier._duck_nb_ctes(_NB_POS, _NB_NEG)}
    SELECT doc_id, component, score_micro, n_members
    FROM (SELECT c.doc_id AS doc_id, c.component AS component,
                 s.score_micro AS score_micro,
                 count(*) OVER (PARTITION BY c.component)::BIGINT
                     AS n_members,
                 row_number() OVER (PARTITION BY c.component
                                    ORDER BY s.score_micro DESC,
                                             c.doc_id ASC) AS rn
          FROM comp c JOIN nbscored s USING (doc_id))
    WHERE rn = 1
    """


def _nb_quality_params(spark: SparkSession, sf_dir: str, consts) -> dict:
    """Memoized collect of the caller's consts frame (the five ints, a
    pure function of the corpus + the fixed class predicates) — only
    the FIRST construction pays the consts job. The caller hands in the
    consts from the ONE nb_model construction it already made, so the
    training plan is never built twice (r12 second review)."""
    from .operators import classifier
    return memo("nb_params", spark, sf_dir, (),
                lambda: classifier.nb_model_params(consts))


def stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source admission telemetry of the STREAM-capable quality
    gate (operators.classifier.quality_admit — score-at-ingest): the NB
    model trains batch-side on the fixtures (vocab broadcast, consts
    collected to literals — a 1-row static frame cannot cross-join an
    unbounded stream), documents are admitted by the deterministic
    Pareto rule, and the batch twin aggregates the admitted set per
    source: (source, n_admitted, admitted_tokens, score_sum). The
    streaming form is the same plan with the event time carried through
    the explode and a WATERMARKED (id, ts) aggregate — bounded state;
    test_round12 proves the file-stream kept set equals this batch
    twin's. Value-identical to nb_score |> pareto_filter on the same
    rows (literal vs column denominators are the same IEEE doubles)."""
    from .operators import classifier
    docs = load_tables(spark, sf_dir)["documents"]
    vocab, consts = classifier.nb_model(docs.filter(F.expr(_NB_POS)),
                                        docs.filter(F.expr(_NB_NEG)))
    params = _nb_quality_params(spark, sf_dir, consts)
    kept = classifier.quality_admit(docs, vocab, params)
    return (kept.join(docs.select("doc_id", "source"), "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_admitted"),
                 F.sum("n_tokens").alias("admitted_tokens"),
                 F.sum("score_micro").alias("score_sum")))


def stream_quality_filter_sql() -> str:
    from .operators import classifier
    return classifier.duck_admit_stats_sql(_NB_POS, _NB_NEG)


# ==================================================== embedding decontam

_EDC_BENCH = "vec_id % 17 = 0"   # benchmark stand-in: bounded eval slice
_EDC_TAU = 0.42                  # same floor as embedding_probe's verify


def decontam_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination (operators.decontam.embedding_decontam):
    corpus rows whose embedding cosine-matches ANY benchmark row at
    >= 0.42 — the embedding-space complement of decontam_ngram
    (paraphrased benchmark leakage shares no 8-gram but still lands
    next to the benchmark in embedding space). The benchmark slice is
    bounded by construction and sits on the right of one exact
    cosine_join, which filters on the threshold before the per-row
    aggregate, so only matches reach the exchange."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return decontam.embedding_decontam(
        emb.filter(~F.expr(_EDC_BENCH)), emb.filter(F.expr(_EDC_BENCH)),
        threshold=_EDC_TAU)


def decontam_embedding_sql() -> str:
    return f"""
    SELECT c.vec_id,
           max(round(list_cosine_similarity(c.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 6))
               AS max_cosine,
           count(*)::BIGINT AS n_hits
    FROM embeddings c, embeddings b
    WHERE NOT (c.{_EDC_BENCH}) AND b.{_EDC_BENCH}
      AND list_cosine_similarity(c.embedding::DOUBLE[],
                                 b.embedding::DOUBLE[]) >= {_EDC_TAU}
    GROUP BY c.vec_id
    """


# =============================================================== BPE tokenizer

_BPE_MERGES, _BPE_TOPW = 16, 256

def _bpe_merges(spark: SparkSession, sf_dir: str):
    """Memoized trained merge table (a tiny python list): only the FIRST
    construction pays the training job."""
    return memo("bpe", spark, sf_dir, (), lambda: tokenizer.bpe_train(
        load_tables(spark, sf_dir)["documents"],
        n_merges=_BPE_MERGES, top_words=_BPE_TOPW))


def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-document token counts under a corpus-trained BPE merge
    table (tokenizer.py; Sennrich 2016 — r10 verdict item #6, makes
    chunking/packing budgets exact instead of whitespace estimates).
    Train: one word-frequency aggregate + a bounded top-256 cut, merge
    loop driver-side over those 256 rows (the DSIR broadcast-table
    contract). Apply: merges as an array literal in a pure-Catalyst
    replace fold — map-only. The DuckDB oracle INDEPENDENTLY RE-TRAINS
    the merge table (16 chained SQL iterations: pair-count aggregate,
    deterministic argmax, one string replace per merge — the
    doubled-separator encoding makes BPE's greedy left-to-right merge
    exactly SQL replace semantics) and re-applies it, so training AND
    application are value-gated end to end."""
    # merges FIRST: a stale-fingerprint retrain invalidates the table
    # memo, and docs must come from the post-invalidation load
    merges = _bpe_merges(spark, sf_dir)
    docs = load_tables(spark, sf_dir)["documents"]
    return tokenizer.bpe_token_counts(docs, merges)


def _bpe_cte_chain(extra_words_rel: str = None,
                   extra_text_col: str = "text",
                   lead: str = "WITH ") -> str:
    """Shared WITH-body: word normalization, top-V training vocab, the
    n_merges training iterations (pair-count aggregate -> deterministic
    argmax -> one replace), and the distinct-word application chain —
    the oracle re-derives the ENTIRE tokenizer independently. Appended
    to by bpe_token_count_sql (per-doc counts) and bpe_chunks_sql
    (token-stream windows). ``extra_words_rel`` widens the APPLICATION
    chain's word set with a second relation's words (the crawl
    pipeline tokenizes EXTRACTED text whose synthesized words are not
    all in the corpus — Spark's bpe_apply tokenizes unseen words from
    the char split, so the dw chain must cover them too; training
    stays corpus-only either way). ``lead`` lets a caller embed the
    body mid-WITH. Defaults reproduce the original twins byte-for-byte."""
    n, v = _BPE_MERGES, _BPE_TOPW
    # every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and with
    # v{{i+1}} referencing v{{i}} three times (pair counts + argmax +
    # replace) inlining expands the chain 3^n-fold — the sf0.001 probe
    # blew the open-file limit before materialization
    dw_src = "(SELECT DISTINCT word FROM w)"
    if extra_words_rel:
        dw_src = f"""(SELECT DISTINCT word FROM (
            SELECT word FROM w
            UNION ALL
            SELECT unnest(string_split(regexp_replace(
                       lower({extra_text_col}),
                       '[^a-z0-9]+', ' ', 'g'), ' ')) AS word
            FROM {extra_words_rel}
            WHERE {extra_text_col} IS NOT NULL)
         WHERE word <> '')"""
    head = f"""
    {lead}words AS MATERIALIZED (
        SELECT doc_id, unnest(string_split(regexp_replace(lower(text),
                      '[^a-z0-9]+', ' ', 'g'), ' ')) AS word
        FROM documents WHERE text IS NOT NULL),
    w AS MATERIALIZED (SELECT doc_id, word FROM words WHERE word <> ''),
    topw AS MATERIALIZED (
        SELECT word, count(*)::BIGINT AS freq FROM w
        GROUP BY word ORDER BY freq DESC, word ASC LIMIT {v}),
    v0 AS MATERIALIZED (
        SELECT word, freq,
               regexp_replace(word, '(.)', '|\\1|', 'g') AS seq
        FROM topw),
    dw0 AS MATERIALIZED (
        SELECT word, regexp_replace(word, '(.)', '|\\1|', 'g') AS seq
        FROM {dw_src})"""
    blocks = []
    for i in range(n):
        # one training iteration: pair-count aggregate over the current
        # vocab sequences, deterministic argmax, then ONE replace applied
        # to both the training vocab (v) and the full distinct-word
        # table (dw). coalesce(chr(1)) guards merge exhaustion: an empty
        # b{i} must no-op, not NULL the sequences.
        pat = (f"coalesce('|' || (SELECT l FROM b{i}) || '||' || "
               f"(SELECT r FROM b{i}) || '|', chr(1))")
        rep = (f"coalesce('|' || (SELECT l FROM b{i}) || "
               f"(SELECT r FROM b{i}) || '|', chr(1))")
        blocks.append(f"""
    pc{i} AS MATERIALIZED (
        SELECT pr[1] AS l, pr[2] AS r, sum(freq)::BIGINT AS c
        FROM (SELECT freq, unnest(list_transform(range(1, len(toks)),
                     x -> [toks[x], toks[x + 1]])) AS pr
              FROM (SELECT freq, string_split(trim(seq, '|'), '||')
                           AS toks
                    FROM v{i})
              WHERE len(toks) >= 2)
        GROUP BY 1, 2),
    b{i} AS MATERIALIZED (
        SELECT l, r FROM pc{i} ORDER BY c DESC, l ASC, r ASC LIMIT 1),
    v{i + 1} AS MATERIALIZED (
        SELECT word, freq, replace(seq, {pat}, {rep}) AS seq FROM v{i}),
    dw{i + 1} AS MATERIALIZED (
        SELECT word, replace(seq, {pat}, {rep}) AS seq FROM dw{i})""")
    return head + "," + ",".join(blocks)


def bpe_token_count_sql() -> str:
    n = _BPE_MERGES
    return _bpe_cte_chain() + f""",
    wtok AS MATERIALIZED (SELECT word,
                    ((len(seq) - len(replace(seq, '|', ''))) // 2)::BIGINT
                        AS n_tok
             FROM dw{n})
    SELECT w.doc_id, count(*)::BIGINT AS n_words,
           sum(t.n_tok)::BIGINT AS n_tokens
    FROM w JOIN wtok t USING (word)
    GROUP BY w.doc_id
    """


_BPE_CHUNK = 32


def bpe_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking in EXACT BPE-token space
    (tokenizer.bpe_chunk_documents): every window except a ragged tail
    is exactly 32 tokens of the trained tokenizer — context-length
    chunking counted in the tokens the model sees, not whitespace
    estimates. The oracle re-trains the tokenizer (the shared CTE
    chain), rebuilds every document's ordered token STREAM and windows
    it — chunk boundaries, token counts AND the chunk text itself are
    value-gated."""
    merges = _bpe_merges(spark, sf_dir)  # before docs — see bpe_token_count
    docs = load_tables(spark, sf_dir)["documents"]
    return tokenizer.bpe_chunk_documents(docs, merges,
                                         chunk_tokens=_BPE_CHUNK)


def _bpe_chunk_sql_parts(rel: str = "documents",
                         text_col: str = "text") -> tuple:
    """(ctes, final_select) for BPE chunking over ``rel.text_col`` with
    the CORPUS-trained merges (_bpe_cte_chain) — bpe_chunks_sql is the
    default instantiation; pipeline_crawl_to_shards chains the same
    parts over its kept-crawl CTE."""
    n, c = _BPE_MERGES, _BPE_CHUNK
    ctes = f""",
    wseq AS MATERIALIZED (
        SELECT word, string_split(trim(seq, '|'), '||') AS tk
        FROM dw{n}),
    worder AS (
        -- parallel unnests zip positionally: the word and its ordinal
        -- come out together WITHOUT carrying the whole ws list on every
        -- row (that form is O(n_words^2) strings per doc; r11 review)
        SELECT doc_id, unnest(ws) AS word,
               unnest(range(1, len(ws) + 1))::INT AS wi
        FROM (SELECT doc_id,
                     list_filter(string_split(regexp_replace(lower({text_col}),
                         '[^a-z0-9]+', ' ', 'g'), ' '),
                         x -> x <> '') AS ws
              FROM {rel} WHERE {text_col} IS NOT NULL)
        WHERE len(ws) > 0),
    wtoks AS (
        SELECT w.doc_id, w.wi, s.tk
        FROM worder w JOIN wseq s USING (word)),
    stream AS (
        SELECT doc_id, tok,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY wi, ti) AS pos
        FROM (SELECT doc_id, wi, unnest(tk) AS tok,
                     unnest(range(1, len(tk) + 1))::INT AS ti
              FROM wtoks))"""
    final = f"""
    SELECT doc_id,
           (ci + 1)::INT AS chunk_seq,
           (ci * {c})::BIGINT AS chunk_start,
           count(*)::BIGINT AS n_chunk_tokens,
           string_agg(tok, ' ' ORDER BY pos) AS chunk_text
    FROM (SELECT doc_id, pos, tok, (pos - 1) // {c} AS ci FROM stream)
    GROUP BY doc_id, ci
    """
    return ctes, final


def bpe_chunks_sql() -> str:
    ctes, final = _bpe_chunk_sql_parts()
    return _bpe_cte_chain() + ctes + final


# ============================================== materialized training shards

# chunk identity for the shard shuffle: doc_id * stride + chunk_seq.
# The stride bounds chunk_seq (a doc would need stride * _BPE_CHUNK
# BPE tokens to overflow — 32M tokens at the defaults); a collision
# would surface as an oracle hash mismatch in the sweep (duplicate ids
# make the rank tie-break nondeterministic BETWEEN engines), so the
# gate itself polices the bound at every SF.
_CHUNK_STRIDE = tokenizer.CHUNK_ID_STRIDE  # one shared stride (r14)
# chunks per shard: materialize uses 1000 (33 shard dirs at sf0.1 —
# the realistic many-rows-per-file layout); the pipeline variant's
# admitted subset is ~1-2% of the corpus (Pareto), so it shards at 100
# to keep multiple shard dirs in play at every SF
_TRAIN_SHARD = 1000
_PIPE_SHARD = 100


def _shuffled_bpe_chunks(spark: SparkSession, sf_dir: str,
                         shard_size: int, salt: str,
                         doc_filter=None) -> DataFrame:
    """Shared pre-write composition for both shard entries (r13 review:
    one implementation, not three copies): BPE-exact 32-token windows
    over the (optionally filtered) corpus, keyed by a single BIGINT
    chunk id, permutation-ranked and exact-sharded by corpus_shuffle.
    Merges are fetched BEFORE the corpus load so a stale-fingerprint
    retrain invalidates the table memo first (see bpe_token_count);
    ``doc_filter`` receives the loaded documents frame and returns the
    subset to chunk (the pipeline's dedup+admission stages)."""
    from .operators import sampling
    merges = _bpe_merges(spark, sf_dir)
    docs = load_tables(spark, sf_dir)["documents"]
    if doc_filter is not None:
        docs = doc_filter(docs)
    chunks = tokenizer.bpe_chunk_documents(docs, merges,
                                           chunk_tokens=_BPE_CHUNK)
    # LOUD overflow guard (r13 third review): a document with
    # >= _CHUNK_STRIDE chunks would collide its chunk_id into the next
    # doc_id's range, and the oracle gate catches that only
    # probabilistically (tied ids can coincidentally order the same in
    # both engines). raise_error keeps the plan map-only and fails the
    # job instead of silently double-assigning an id.
    seq = F.when(
        F.col("chunk_seq") < F.lit(_CHUNK_STRIDE),
        F.col("chunk_seq").cast("long"),
    ).otherwise(F.raise_error(F.lit(
        f"chunk_seq >= {_CHUNK_STRIDE}: chunk_id would collide across "
        f"documents — raise tokenizer.CHUNK_ID_STRIDE (the ONE shared "
        f"stride; _CHUNK_STRIDE aliases it)")).cast("long"))
    keyed = chunks.withColumn(
        "chunk_id", (F.col("doc_id").cast("long") * F.lit(_CHUNK_STRIDE)
                     + seq))
    return sampling.corpus_shuffle(keyed, "chunk_id", shard_size,
                                   salt=salt)


def _training_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """materialize_training_shards' pre-write frame (salt 'shards')."""
    return _shuffled_bpe_chunks(spark, sf_dir, _TRAIN_SHARD, "shards")


# every column written to the shard artifact, in the exact order both
# entries AND both DuckDB twins project — chunk_start included so no
# on-disk column escapes the oracle's certification (r13 review)
_TRAIN_COLS = ("doc_id", "chunk_seq", "chunk_start", "shuffle_rank",
               "shard", "shard_pos", "n_chunk_tokens", "chunk_text")


def _materialized_shards(spark: SparkSession, sf_dir: str, kind: str,
                         frame_fn) -> DataFrame:
    """Shared entry body: build frame_fn's shuffled+sharded frame ONCE
    per (session, sf_dir) — fingerprint-revalidated via
    _probe_index_path — write it with write_training_shards, and return
    the READ-BACK files (so the oracle certifies the artifact)."""
    from .sources import writers

    def build(p):
        shuffled = frame_fn(spark, sf_dir)
        writers.write_training_shards(shuffled.select(*_TRAIN_COLS), p)
        shuffled.rm_release_cache()

    path = _probe_index_path(spark, sf_dir, kind, build)
    back = spark.read.parquet(path)
    # hive partition inference types shard as INT; the oracle's integer
    # division is BIGINT — normalize
    return back.select(
        *[F.col(c).cast("long").alias(c) if c == "shard" else F.col(c)
          for c in _TRAIN_COLS])


def materialize_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END OF THE TRAINING-DATA PIPELINE (r13 verdict item #3): the
    stack's stages — tokenize (corpus-trained BPE, tokenizer.py), chunk
    to exact context-length windows (bpe_chunk_documents), shuffle
    (sampling.corpus_shuffle) and shard (exact fixed-size arithmetic) —
    composed and MATERIALIZED as the artifact a training run reads:
    hive-partitioned parquet, one ``shard=K/`` directory with one file,
    rows physically ordered by shard_pos (sources.writers
    .write_training_shards). The entry returns the READ-BACK files, so
    the oracle's hash match proves the on-disk artifact — not just the
    plan that produced it — holds the exact token sequences in the
    exact shuffle order (the DuckDB twin re-derives the ENTIRE
    composition: retrains the tokenizer, rebuilds every token stream,
    re-ranks the permutation, recomputes the shard arithmetic).

    The write is memoized per (session, sf_dir) like the ANN/minhash
    probe indexes — the fixtures are immutable, so the artifact is
    built once and every later call is a pure parquet scan (the
    incremental contract: at 100 TB you materialize shards once per
    corpus+epoch, then every training job just reads). Layout
    invariants (one file per shard, physical shard_pos order,
    contiguous rank ranges, exact shard sizes) are pinned by
    test_round13 + the RM_SCALE_STRESS >=1M-row stress."""
    return _materialized_shards(spark, sf_dir, "train_shards",
                                _training_chunks)


def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainer-facing MANIFEST of the materialized shard artifact: per
    shard, its row count, exact token total, and contiguous global
    rank range — what a training job consults for resumption points,
    per-worker assignment, and token accounting, without scanning the
    shards themselves. Computed OVER THE READ-BACK files (the memoized
    materialize_training_shards artifact), so the oracle match
    certifies the on-disk product's bookkeeping, and the aggregation
    is one map-side-combined groupBy on the hive partition key —
    bounded output (one row per shard)."""
    df = materialize_training_shards(spark, sf_dir)
    out = (df.groupBy(F.col("shard").cast("long").alias("shard"))
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("n_chunk_tokens").cast("long"))
                .alias("n_tokens"),
                F.min("shuffle_rank").alias("rank_lo"),
                F.max("shuffle_rank").alias("rank_hi")))
    return _carry_release(df, out)


def shard_manifest_sql() -> str:
    return f"""
    SELECT shard::BIGINT AS shard, count(*)::BIGINT AS n_rows,
           sum(n_chunk_tokens)::BIGINT AS n_tokens,
           min(shuffle_rank)::BIGINT AS rank_lo,
           max(shuffle_rank)::BIGINT AS rank_hi
    FROM ({materialize_training_shards_sql()})
    GROUP BY 1
    """


def materialize_training_shards_sql() -> str:
    from .functions import portable_hash as PH
    h = PH.duck_ph60("'shards:' || (chunk_id)::VARCHAR")
    from .operators.sampling import _duck_shard_cols
    return f"""
    SELECT doc_id, chunk_seq, chunk_start,
           shuffle_rank{_duck_shard_cols("shuffle_rank", _TRAIN_SHARD)},
           n_chunk_tokens, chunk_text
    FROM (SELECT *, row_number() OVER (ORDER BY {h} ASC, chunk_id ASC)
                 AS shuffle_rank
          FROM (SELECT q.*,
                       doc_id * {_CHUNK_STRIDE} + chunk_seq AS chunk_id
                FROM ({bpe_chunks_sql()}) q))
    """


def _pipeline_shard_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL pipeline composition feeding pipeline_training_shards:
    exact near-form dedup (_first_per_norm_text — the rule shared with
    pipeline_corpus_clean) -> NB Pareto quality admission (the
    nb_pareto_filter kept set, model trained once via _nb_scored's
    memoized consts) -> BPE-exact context windows -> deterministic
    shuffle + exact shards (salt 'pipe-shards', so the artifact is a
    different permutation than materialize_training_shards')."""
    from .operators import classifier

    def doc_filter(docs):
        admitted = classifier.pareto_filter(
            _nb_scored(spark, sf_dir)).select("doc_id")
        return _first_per_norm_text(docs).join(admitted, "doc_id", "semi")

    return _shuffled_bpe_chunks(spark, sf_dir, _PIPE_SHARD,
                                "pipe-shards", doc_filter=doc_filter)


def pipeline_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE TRAINING-DATA PIPELINE END TO END, materialized: dedup ->
    quality-admit -> tokenize -> chunk -> shuffle -> shard -> WRITE,
    read back from the files (every stage is the already-oracle-gated
    operator; this entry proves the COMPOSITION and its on-disk
    artifact). The DuckDB twin re-derives all of it in one statement —
    the dedup window, the NB training + scoring + Pareto CDF-inversion
    kept set, the BPE retraining + token streams, the permutation rank
    and the shard arithmetic — so the hash match certifies the files a
    trainer would mount. Plan shape at 100 TB: dedup is one wide
    exchange on the normalized-text hash; admission is the broadcast-
    model map (single training instantiation — _nb_scored); the
    semi-join is the only id-grain exchange; chunking is map-only; the
    shuffle is the one legitimate global sort on an 8-byte key; the
    write is hash-partitioned by fixed-size shard (byte-balanced
    tasks). Build memoized per (session, sf_dir) like every persisted
    artifact here."""
    return _materialized_shards(spark, sf_dir, "pipe_shards",
                                _pipeline_shard_frame)


def pipeline_training_shards_sql() -> str:
    from .functions import portable_hash as PH
    from .operators import classifier
    from .operators.sampling import _duck_shard_cols
    h = PH.duck_ph60("'pipe-shards:' || (chunk_id)::VARCHAR")
    kept = classifier.duck_pareto_filter_sql(_NB_POS, _NB_NEG)
    return f"""
    SELECT doc_id, chunk_seq, chunk_start,
           shuffle_rank{_duck_shard_cols("shuffle_rank", _PIPE_SHARD)},
           n_chunk_tokens, chunk_text
    FROM (SELECT *, row_number() OVER (ORDER BY {h} ASC, chunk_id ASC)
                 AS shuffle_rank
          FROM (SELECT q.*,
                       doc_id * {_CHUNK_STRIDE} + chunk_seq AS chunk_id
                FROM ({bpe_chunks_sql()}) q
                WHERE doc_id IN (SELECT doc_id FROM ({kept}) k)
                  AND doc_id IN (
                      SELECT doc_id
                      FROM (SELECT doc_id,
                                   {_duck_first_per_norm_rn()} AS rn
                            FROM documents) d
                      WHERE rn = 1)))
    """


# =============================================================== corpus pipeline

# SQL twin of _first_per_norm_text's rule: first doc (lowest id) wins
# per whitespace-normalized text. One definition for both pipeline
# twins (r13 third review: the Spark side was unified into
# _first_per_norm_text but the twins still inlined two copies of the
# window — the exact fork the helper exists to prevent).
_DUCK_NORM_TEXT = dedup.duck_normalize_text("text")  # the ONE twin (r15)


def _duck_first_per_norm_rn(order_id: str = "doc_id") -> str:
    return (f"row_number() OVER (PARTITION BY {_DUCK_NORM_TEXT} "
            f"ORDER BY {order_id} ASC)")


def _first_per_norm_text(docs: DataFrame) -> DataFrame:
    """Exact near-form dedup: keep the FIRST doc_id per whitespace-
    normalized text — the pipeline dedup rule, shared by
    pipeline_corpus_clean and pipeline_training_shards so the two
    entries (and their DuckDB twins) can never silently fork (r13
    review). One wide exchange on the normalized-text hash."""
    from pyspark.sql import Window
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    w = Window.partitionBy(norm).orderBy(F.col("doc_id").asc())
    return (docs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))


def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus cleaning pipeline as ONE composed DataFrame plan:
    quality scoring -> language ID -> filter (quality >= 0.6, identified
    language) -> exact near-form dedup (first doc per normalized text) ->
    per-(source, lang) stats. Every stage is the already-tested operator;
    the point is that the composition stays a single lazy plan — one scan,
    stages fused by Catalyst, the dedup window the only wide exchange
    until the final (tiny) aggregate."""
    docs = load_tables(spark, sf_dir)["documents"]
    scored = textstats.lang_id(textstats.quality_score(docs))
    filtered = scored.filter((F.col("quality") >= 0.6)
                             & (F.col("lang_pred") != "und"))
    kept = _first_per_norm_text(filtered)
    n_tok = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    return (kept.groupBy("source", "lang_pred")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(n_tok.cast("long")).alias("n_tokens"),
                 F.sum(F.col("quality").cast(DEC)).alias("_qsum"))
            .select("source", "lang_pred", "n_docs", "n_tokens",
                    F.round(F.col("_qsum").cast("double") / F.col("n_docs"),
                            6).alias("avg_quality")))


def pipeline_corpus_clean_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in textstats.LANG_PROFILES["en"])
    h = {lang: _sql_hits(lang) for lang in LANGS}
    return f"""
    WITH t AS (
        SELECT doc_id, text, source,
            string_split_regex(trim(lower(text)), '\\s+') AS toks,
            length(text) AS chars
        FROM documents),
         m AS (
        SELECT doc_id, text, source, toks,
            (chars - len(toks) + 1)::DOUBLE / len(toks) AS mwl,
            (chars - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE
                / greatest(chars, 1) AS pr,
            (chars - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                / greatest(chars, 1) AS dr,
            len(list_filter(toks, x -> list_contains([{stop}], x)))::DOUBLE
                / greatest(len(toks), 1) AS sr,
            CASE WHEN greatest({h['de']}, {h['en']}, {h['es']}, {h['fr']}) = 0 THEN 'und'
                 WHEN {h['fr']} >= {h['es']} AND {h['fr']} >= {h['en']} AND {h['fr']} >= {h['de']} THEN 'fr'
                 WHEN {h['es']} >= {h['en']} AND {h['es']} >= {h['de']} THEN 'es'
                 WHEN {h['en']} >= {h['de']} THEN 'en'
                 ELSE 'de' END AS lang_pred
        FROM t),
         scored AS (
        SELECT doc_id, text, source, toks, lang_pred,
            round(CASE WHEN mwl >= 3 AND mwl <= 10 THEN 0.4 ELSE 0.0 END
                + CASE WHEN pr < 0.2 THEN 0.2 ELSE 0.0 END
                + CASE WHEN dr < 0.3 THEN 0.2 ELSE 0.0 END
                + CASE WHEN sr > 0.01 THEN 0.2 ELSE 0.0 END, 2)::DOUBLE AS quality
        FROM m),
         kept AS (
        SELECT *, {_duck_first_per_norm_rn()} AS rn
        FROM scored
        WHERE quality >= 0.6 AND lang_pred <> 'und')
    SELECT source, lang_pred, count(*) AS n_docs,
           sum(len(toks))::BIGINT AS n_tokens,
           round(sum(quality::DECIMAL(18,2))::DOUBLE / count(*), 6) AS avg_quality
    FROM kept WHERE rn = 1
    GROUP BY source, lang_pred
    """


# =============================================================== vocabulary / tf-idf

_DUCK_TOKS = ("SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),"
              " '[^a-z]+'), t -> t <> '')) AS term FROM documents")


def text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-200 terms by total count, with doc frequency
    and idf. Explode + map-side partial agg; the global top-n reduces
    |vocab| rows, not the corpus."""
    docs = load_tables(spark, sf_dir)["documents"]
    return textstats.vocabulary(docs, top_n=200)


def text_vocabulary_sql() -> str:
    return f"""
    WITH toks AS ({_DUCK_TOKS}),
         tc AS (SELECT term, count(*) AS n_total,
                       count(DISTINCT doc_id) AS n_docs
                FROM toks GROUP BY term)
    SELECT row_number() OVER (ORDER BY n_total DESC, term ASC) AS rank,
           term, n_total, n_docs,
           round(ln(((SELECT count(*) FROM documents) + 1.0)
                    / (n_docs + 1.0)), 6) AS idf
    FROM tc
    QUALIFY rank <= 200
    """


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document; integer-only ranking
    (n_in_doc desc, n_docs asc, term asc) so the cut is engine-exact, with
    the float tf-idf score surfaced rounded."""
    docs = load_tables(spark, sf_dir)["documents"]
    return textstats.tf_idf_topk(docs, k=3)


def text_tfidf_sql() -> str:
    return f"""
    WITH toks AS ({_DUCK_TOKS}),
         pd AS (SELECT doc_id, term, count(*) AS n_in_doc
                FROM toks GROUP BY 1, 2),
         dl AS (SELECT doc_id, sum(n_in_doc) AS doc_len FROM pd GROUP BY 1),
         dfq AS (SELECT term, count(*) AS n_docs FROM pd GROUP BY 1)
    SELECT pd.doc_id,
           row_number() OVER (PARTITION BY pd.doc_id
               ORDER BY n_in_doc DESC, n_docs ASC, pd.term ASC) AS term_rank,
           pd.term, n_in_doc, n_docs,
           round((n_in_doc::DOUBLE / doc_len)
                 * ln(((SELECT count(*) FROM documents) + 1.0)
                      / (n_docs + 1.0)), 6) AS tfidf
    FROM pd JOIN dfq USING (term) JOIN dl USING (doc_id)
    QUALIFY term_rank <= 3
    """


def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 adjacent-word collocations with PMI (integer-ranked cut,
    PMI surfaced rounded)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return textstats.bigram_pmi(docs, min_count=3, top_n=100)


def text_bigram_pmi_sql() -> str:
    return f"""
    WITH base AS (
        SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           t -> t <> '') AS t
        FROM documents),
    uni AS (
        SELECT unnest(t) AS w FROM base),
    uc AS (SELECT w, count(*) AS c_w FROM uni GROUP BY w),
    bi AS (
        SELECT unnest(list_transform(range(1, len(t)),
                      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS b
        FROM base WHERE len(t) >= 2),
    bc AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c_ab
           FROM bi GROUP BY 1, 2 HAVING count(*) >= 3),
    tot AS (SELECT (SELECT sum(c_w) FROM uc) AS n_uni,
                   (SELECT sum(c_ab) FROM bc) AS n_bi)
    SELECT row_number() OVER (ORDER BY c_ab DESC, w1 ASC, w2 ASC) AS rank,
           w1, w2, c_ab, ua.c_w AS c_a, ub.c_w AS c_b,
           round(ln((c_ab / n_bi::DOUBLE)
                    / ((ua.c_w / n_uni::DOUBLE)
                       * (ub.c_w / n_uni::DOUBLE))), 6) AS pmi
    FROM bc JOIN uc ua ON ua.w = bc.w1 JOIN uc ub ON ub.w = bc.w2, tot
    QUALIFY rank <= 100
    """


# =============================================================== sampling

def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split of the corpus by
    portable hash of doc_id — map-only (no shuffle), append-stable, and
    bit-identical in the DuckDB oracle."""
    from .operators import sampling
    docs = load_tables(spark, sf_dir)["documents"]
    return sampling.hash_split(docs, "doc_id").select("doc_id", "bucket", "split")


def dataset_split_sql() -> str:
    from .operators import sampling
    b = sampling.duck_bucket_sql("doc_id", "split", 1000)
    case = sampling.duck_split_case(b)
    return f"SELECT doc_id, {b} AS bucket, {case} AS split FROM documents"


_SHUF_SHARD = 100


def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle + fixed-size sharding
    (operators.sampling.corpus_shuffle): every doc gets a permutation
    rank ordered by the portable md5 hash of its salted id, then
    shard/shard_pos arithmetic — the offline "shuffle once, read shards
    sequentially" layout a training run ingests. The rank is the
    distributed global_rank (range exchange + P-row offsets, never a
    single-partition window); the permutation is a pure function of the
    ids, so the DuckDB row_number twin reproduces it exactly."""
    from .operators import sampling
    docs = load_tables(spark, sf_dir)["documents"]
    out = sampling.corpus_shuffle(docs, "doc_id", _SHUF_SHARD)
    return _carry_release(
        out, out.select("doc_id", "shuffle_rank", "shard", "shard_pos"))


def corpus_shuffle_sql() -> str:
    from .operators import sampling
    return sampling.duck_corpus_shuffle_sql("doc_id", _SHUF_SHARD)


_SHUF_EPOCHS = (1, 2, 3)


def corpus_shuffle_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH-PARAMETERIZED training shuffle (r12 verdict item #5;
    operators.sampling.corpus_shuffle with epoch=): real training
    reshuffles every epoch, and here the whole reshuffle is one salt
    component — epoch e's permutation orders by ph60("shuffle:e{e}:" +
    id), so each epoch is an INDEPENDENT deterministic permutation of
    the same id set (no data rewrite; only the 8-byte rank sort
    recomputes). The entry materializes epochs 1-3 side by side —
    (epoch, doc_id, shuffle_rank, shard, shard_pos) — so the oracle
    value-gates that every epoch is a complete exact-sharded
    permutation AND that the three differ (the union hash pins all
    three orders). Cross-epoch distinctness + append-stability are
    property-tested in test_round13."""
    from functools import reduce

    from .operators import sampling
    docs = load_tables(spark, sf_dir)["documents"]
    outs, rels = [], []
    for e in _SHUF_EPOCHS:
        o = sampling.corpus_shuffle(docs, "doc_id", _SHUF_SHARD, epoch=e)
        rels.append(o.rm_release_cache)
        outs.append(o.select(
            F.lit(e).cast("int").alias("epoch"),
            "doc_id", "shuffle_rank", "shard", "shard_pos"))
    out = reduce(lambda a, b: a.unionByName(b), outs)

    def release(_rels=tuple(rels)):
        for r in _rels:
            r()

    out.rm_release_cache = release
    return out


def corpus_shuffle_epoch_sql() -> str:
    from .operators import sampling
    return " UNION ALL ".join(
        f"SELECT {e}::INT AS epoch, * FROM ("
        + sampling.duck_corpus_shuffle_sql("doc_id", _SHUF_SHARD, epoch=e)
        + ")"
        for e in _SHUF_EPOCHS)


def mixture_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-proportional deterministic interleaving
    (operators.sampling.mixture_interleave): a global reading order
    whose every prefix holds each source in its corpus-wide proportion
    — the read-time complement of mixture_sample (no runtime sampler;
    an early-stopped run has still seen the right mixture). Per-source
    hash order via a PARTITIONED window, fractional-position stride
    keys, then the distributed global_rank. Engine-exact: the stride
    key is one IEEE division of exact integers; the DuckDB twin
    reproduces the exact order."""
    from .operators import sampling
    docs = load_tables(spark, sf_dir)["documents"]
    out = sampling.mixture_interleave(docs, "source", "doc_id",
                                      shard_size=_SHUF_SHARD)
    return _carry_release(
        out, out.select("doc_id", "source", "interleave_rank",
                        "shard", "shard_pos"))


def mixture_interleave_sql() -> str:
    from .operators import sampling
    return sampling.duck_mixture_interleave_sql(
        "source", "doc_id", shard_size=_SHUF_SHARD)


def sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsample: at most 50 docs per language, chosen by
    hash order (uniform within group, reproducible, append-stable)."""
    from .operators import sampling
    docs = load_tables(spark, sf_dir)["documents"]
    return sampling.cap_per_group(docs, "lang", "doc_id", 50).select(
        "doc_id", "lang", "sample_rank")


def sample_per_group_sql() -> str:
    from .operators.sampling import duck_cap_rank_sql
    return f"""
    SELECT doc_id, lang,
           {duck_cap_rank_sql('lang', 'doc_id')} AS sample_rank
    FROM documents
    QUALIFY sample_rank <= 50
    """


# ==================================== training-prep / analytics round 6b

def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (32-token windows, 8 overlap):
    the transform between clean corpus and token shards. Map-only plan —
    single scan + posexplode, no shuffle (see chunking.chunk_documents)."""
    from .operators import chunking
    docs = load_tables(spark, sf_dir)["documents"]
    out = chunking.chunk_documents(docs, chunk_tokens=32, overlap=8)
    return out.select(
        "doc_id",
        F.col("chunk_seq").cast("long").alias("chunk_seq"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        "chunk_text")


def doc_chunks_sql() -> str:
    # stride = 32 - 8 = 24; DuckDB list slice l[a:b] is 1-based inclusive,
    # matching Spark's slice(toks, start+1, 32)
    return r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
      WHERE text IS NOT NULL AND trim(text) <> ''),
    e AS (
      SELECT doc_id, toks,
             unnest(range(0, len(toks), 24)) AS chunk_start
      FROM t)
    SELECT doc_id,
           (chunk_start / 24 + 1)::BIGINT AS chunk_seq,
           chunk_start::BIGINT AS chunk_start,
           len(toks[chunk_start + 1 : chunk_start + 32])::BIGINT
               AS n_chunk_tokens,
           array_to_string(toks[chunk_start + 1 : chunk_start + 32], ' ')
               AS chunk_text
    FROM e
    """


def seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy in-order packing of documents into 256-token context bins,
    per source. Prefix-sequential recurrence as a row-local fold per
    group (see chunking.pack_sequences); the oracle is the same greedy
    recurrence as a recursive CTE."""
    from .operators import chunking
    docs = load_tables(spark, sf_dir)["documents"]
    blank = F.col("text").isNull() | (F.trim(F.col("text")) == "")
    with_n = docs.select(
        "source", "doc_id",
        F.when(blank, F.lit(0)).otherwise(
            F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long").alias("n_tokens"))
    return chunking.pack_sequences(with_n, capacity=256)


def seq_pack_sql() -> str:
    return r"""
    WITH RECURSIVE toks AS (
      SELECT source, doc_id,
             least(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\s+')) END,
                   256)::BIGINT AS n
      FROM documents),
    g AS (
      SELECT source, doc_id, n,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM toks),
    p AS (
      SELECT source, doc_id, n, rn, 1::BIGINT AS pack_id, n AS pack_fill
      FROM g WHERE rn = 1
      UNION ALL
      SELECT g.source, g.doc_id, g.n, g.rn,
             CASE WHEN p.pack_fill + g.n <= 256 THEN p.pack_id
                  ELSE p.pack_id + 1 END,
             CASE WHEN p.pack_fill + g.n <= 256 THEN p.pack_fill + g.n
                  ELSE g.n END
      FROM g JOIN p ON g.source = p.source AND g.rn = p.rn + 1)
    SELECT source, doc_id, n AS n_used, pack_id, pack_fill FROM p
    """


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII counting + redaction (emails / IPv4 / phone-shaped runs) with
    an md5 witness of the scrubbed text — regex-engine parity between
    Java regex and RE2 is exactly what the oracle checks here."""
    docs = load_tables(spark, sf_dir)["documents"]
    return textstats.pii_scrub(docs)


def text_pii_scrub_sql() -> str:
    em, ip, ph = textstats.PII_EMAIL, textstats.PII_IPV4, textstats.PII_PHONE
    return f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{em}'))::INT AS n_emails,
           len(regexp_extract_all(text, '{ip}'))::INT AS n_ipv4,
           len(regexp_extract_all(text, '{ph}'))::INT AS n_phones,
           length(regexp_replace(regexp_replace(regexp_replace(
               text, '{em}', '[EMAIL]', 'g'),
               '{ip}', '[IPV4]', 'g'),
               '{ph}', '[PHONE]', 'g')) AS scrub_len,
           md5(regexp_replace(regexp_replace(regexp_replace(
               text, '{em}', '[EMAIL]', 'g'),
               '{ip}', '[IPV4]', 'g'),
               '{ph}', '[PHONE]', 'g')) AS scrub_hash
    FROM documents
    """


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index: per term, doc frequency + capped ascending posting
    list (first 20 doc ids, comma-joined). One explode + one groupBy."""
    docs = load_tables(spark, sf_dir)["documents"]
    return textstats.inverted_index(docs, min_df=2, postings_cap=20)


def text_inverted_index_sql() -> str:
    return """
    WITH pairs AS (
      SELECT DISTINCT doc_id, term
      FROM (SELECT doc_id,
                   unnest(list_filter(
                       string_split_regex(lower(text), '[^a-z]+'),
                       t -> t <> '')) AS term
            FROM documents)),
    agg AS (
      SELECT term, count(*)::BIGINT AS n_docs,
             list_sort(list(doc_id)) AS post
      FROM pairs GROUP BY term)
    SELECT term, n_docs,
           array_to_string(list_transform(post[1:20], d -> d::VARCHAR), ',')
               AS postings
    FROM agg WHERE n_docs >= 2
    """


BM25_QUERY = ["spark", "join", "filter", "vector"]
BM25_K1, BM25_B = 1.2, 0.75


def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for a fixed query-term bag. Integer micro-score
    ranking (each per-term partial rounded once, summed as BIGINT) makes
    the top-k cut engine-exact; see textstats.bm25_score."""
    docs = load_tables(spark, sf_dir)["documents"]
    return textstats.bm25_score(docs, BM25_QUERY, k1=BM25_K1, b=BM25_B,
                                top_k=20)


def text_bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in sorted(set(BM25_QUERY)))
    return f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         t -> t <> '') AS toks
      FROM documents),
    tf AS (
      SELECT doc_id, dl, term, count(*)::BIGINT AS tf
      FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM base)
      WHERE term IN ({terms})
      GROUP BY doc_id, dl, term),
    dfreq AS (
      SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tf
      GROUP BY term),
    corpus AS (
      SELECT count(*)::BIGINT AS n, sum(len(toks))::BIGINT AS tok_total
      FROM base),
    scored AS (
      SELECT tf.doc_id,
             CAST(round(
               ln((corpus.n::DOUBLE - dfreq.df + 0.5) / (dfreq.df + 0.5)
                  + 1.0)
               * (tf.tf::DOUBLE * ({BM25_K1} + 1.0))
               / (tf.tf::DOUBLE + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B}
                  * tf.dl::DOUBLE
                  / (corpus.tok_total::DOUBLE / corpus.n::DOUBLE)))
               * 1e6) AS BIGINT) AS micro
      FROM tf JOIN dfreq USING (term) CROSS JOIN corpus),
    per_doc AS (
      SELECT doc_id, sum(micro)::BIGINT AS tot_micro,
             count(*)::BIGINT AS n_terms_hit
      FROM scored GROUP BY doc_id)
    SELECT row_number() OVER (ORDER BY tot_micro DESC, doc_id ASC)
               AS rank,
           doc_id, n_terms_hit, tot_micro::DOUBLE / 1e6 AS bm25
    FROM per_doc
    ORDER BY tot_micro DESC, doc_id ASC
    LIMIT 20
    """


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic Lloyd assignment step over the embeddings table
    (centroids = vec_id < 8), integer-scaled squared-L2 distances; the
    hot per-iteration plan of distributed k-means (broadcast centroids,
    map-side min-struct). See similarity.kmeans_assign."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return similarity.kmeans_assign(emb, k=8)


def embedding_kmeans_sql() -> str:
    return """
    WITH c AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < 8),
    d AS (
      SELECT e.vec_id, c.cid,
             list_sum(list_transform(
                 list_zip(e.embedding, c.cvec),
                 p -> CAST(floor((p[1]::DOUBLE - p[2]::DOUBLE)
                                 * (p[1]::DOUBLE - p[2]::DOUBLE)
                                 * 1e9) AS BIGINT)))::BIGINT AS dist
      FROM embeddings e CROSS JOIN c),
    best AS (
      SELECT vec_id, cid, dist,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist ASC, cid ASC) AS rn
      FROM d)
    SELECT vec_id, cid AS cluster, dist AS dist_scaled
    FROM best WHERE rn = 1
    """


def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-user daily grid with zero-filled day totals and exact
    decimal cumulative totals (see temporal.gapfill_daily)."""
    ev = load_tables(spark, sf_dir)["events"]
    return temporal.gapfill_daily(ev)


def events_gapfill_sql() -> str:
    return """
    WITH obs AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             count(*)::BIGINT AS n_events,
             sum(value::DECIMAL(18,2)) AS s
      FROM events GROUP BY 1, 2),
    span AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM obs GROUP BY 1),
    grid AS (
      SELECT user_id,
             unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM span),
    f AS (
      SELECT g.user_id, g.day,
             coalesce(o.n_events, 0) AS n_events,
             coalesce(o.s, 0::DECIMAL(18,2)) AS s
      FROM grid g LEFT JOIN obs o
        ON g.user_id = o.user_id AND g.day = o.day)
    SELECT user_id, day, n_events,
           round(s::DOUBLE, 2) AS day_total,
           round(sum(s) OVER (PARTITION BY user_id ORDER BY day
                              ROWS UNBOUNDED PRECEDING)::DOUBLE, 2)
               AS cum_total
    FROM f
    """


def event_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (see behavior.event_transitions)."""
    from .operators import behavior
    ev = load_tables(spark, sf_dir)["events"]
    return behavior.event_transitions(ev)


def event_markov_sql() -> str:
    return """
    WITH p AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events),
    c AS (
      SELECT from_type, to_type, count(*)::BIGINT AS n
      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type)::DOUBLE,
                 6) AS prob
    FROM c
    """


def events_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags against the previous 20 events per
    user, integer-sum rolling stats (see behavior.rolling_anomalies)."""
    from .operators import behavior
    ev = load_tables(spark, sf_dir)["events"]
    return behavior.rolling_anomalies(ev, lookback=20, z_threshold=3.0)


def events_anomalies_sql() -> str:
    return """
    WITH b AS (
      SELECT event_id, user_id, ts, value,
             CAST(floor(value * 1e6) AS BIGINT) AS sv
      FROM events),
    s AS (
      SELECT event_id, user_id, ts, value, sv,
             count(sv) OVER w AS n,
             sum(sv) OVER w AS s1,
             sum(sv::DECIMAL(38,0) * sv) OVER w AS s2
      FROM b
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
    z AS (
      SELECT event_id, user_id, ts, value,
             round((sv::DOUBLE - s1::DOUBLE / n)
                   / sqrt(greatest(s2::DOUBLE / n
                                   - (s1::DOUBLE / n) * (s1::DOUBLE / n),
                                   0.0)), 6) AS zscore
      FROM s
      WHERE n >= 2 AND s2 * n <> s1::DECIMAL(38,0) * s1)
    SELECT event_id, user_id, ts, value, zscore
    FROM z WHERE abs(zscore) > 3.0
    """


def doc_chunks_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (boundary after tokens whose portable
    hash is 0 mod 16): edit-stable chunk boundaries for chunk-level
    dedup — see chunking.chunk_content_defined."""
    from .operators import chunking
    docs = load_tables(spark, sf_dir)["documents"]
    return chunking.chunk_content_defined(docs, mod=16)


def doc_chunks_cdc_sql() -> str:
    from .functions import portable_hash as PH
    h = PH.duck_ph28("toks[p+1]")
    return rf"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
      WHERE text IS NOT NULL AND trim(text) <> ''),
    b AS (
      SELECT doc_id, toks,
             list_filter(range(0, len(toks)),
                         p -> {h} % 16 = 0) AS bpos
      FROM t),
    sp AS (
      SELECT doc_id, toks,
             [0] || list_transform(bpos, p -> p + 1) AS starts,
             list_transform(bpos, p -> p + 1) || [len(toks)] AS ends
      FROM b),
    e AS (
      SELECT doc_id, toks, starts, ends,
             unnest(range(1, len(starts) + 1)) AS k
      FROM sp)
    SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY k)::BIGINT
               AS chunk_seq,
           starts[k]::BIGINT AS chunk_start,
           (ends[k] - starts[k])::BIGINT AS n_chunk_tokens,
           array_to_string(toks[starts[k] + 1 : ends[k]], ' ')
               AS chunk_text
    FROM e WHERE starts[k] < ends[k]
    """


# Shared Lloyd params for embedding_kmeans_lloyd, the cached
# semantic-dedup assignment frame, AND the DuckDB oracle SQL below.
# All three must agree or semantic_dedup's pair set silently diverges
# from its oracle; the SQL's iteration structure is hand-unrolled for
# exactly two iterations, so _SEMKM_ITERS is pinned (asserted in
# embedding_kmeans_lloyd_sql).
_SEMKM_K = 8
_SEMKM_ITERS = 2


def embedding_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two full Lloyd iterations (assign -> centroid update -> assign) in
    scaled-integer arithmetic: iterative distributed ML with bit-exact
    cross-engine results — see similarity.kmeans_lloyd."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    out = similarity.kmeans_lloyd(emb, k=_SEMKM_K, iters=_SEMKM_ITERS)
    return _carry_release(out, out)


def embedding_kmeans_lloyd_sql() -> str:
    # the CTE chain below (c0 -> a1 -> c1 -> a2) IS two iterations;
    # changing _SEMKM_ITERS requires restructuring it, so fail loudly
    # instead of silently drifting from the Spark entries
    assert _SEMKM_ITERS == 2, "oracle SQL is hand-unrolled for iters=2"
    assign = """
    SELECT id, sv, cid, dist,
           row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rn
    FROM (SELECT p.id, p.sv, c.cid,
                 list_sum(list_transform(
                     list_zip(p.sv, c.cv),
                     z -> (z[1] - z[2]) * (z[1] - z[2])))::BIGINT AS dist
          FROM pts p CROSS JOIN {cents} c)
    """
    return f"""
    WITH pts AS (
      SELECT vec_id AS id,
             list_transform(embedding,
                            x -> CAST(floor(x::DOUBLE * 1e6) AS BIGINT))
                 AS sv
      FROM embeddings),
    c0 AS (SELECT id AS cid, sv AS cv FROM pts WHERE id < {_SEMKM_K}),
    a1 AS ({assign.format(cents="c0")}),
    a1b AS (SELECT id, sv, cid FROM a1 WHERE rn = 1),
    c1 AS (
      SELECT cid, list(cval ORDER BY pos) AS cv
      FROM (SELECT cid, pos,
                   CAST(floor(sum(val)::DOUBLE / count(*)) AS BIGINT)
                       AS cval
            FROM (SELECT cid, unnest(sv) AS val,
                         generate_subscripts(sv, 1) AS pos
                  FROM a1b)
            GROUP BY cid, pos)
      GROUP BY cid),
    a2 AS ({assign.format(cents="c1")})
    SELECT id AS vec_id, cid AS cluster, dist AS dist_scaled
    FROM a2 WHERE rn = 1
    """


def _embedding_kmeans_asg(spark: SparkSession, sf_dir: str):
    """Persisted Lloyd assignment frame at the entry's fixed params
    (_SEMKM_K/_SEMKM_ITERS), memoized like the trade edges."""
    def build(t):
        km = similarity.kmeans_lloyd(t["embeddings"],
                                     k=_SEMKM_K, iters=_SEMKM_ITERS)
        asg = km.persist()
        # materialize the small assignment frame NOW, then free the
        # Lloyd internals (the full scaled-point table + per-iteration
        # centroid frames) — otherwise they'd sit persisted for the
        # whole session alongside the frame that made them redundant
        asg.count()
        try:
            getattr(km, "rm_release_cache", lambda: None)()
        except Exception:
            pass
        return asg

    return _frames("semasg", spark, sf_dir, build)


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: engine-exact Lloyd
    k-means partitions the embedding space, exhaustive cosine runs
    WITHIN clusters only (candidate volume n^2/k, one shuffle on the
    cluster id — similarity.semantic_dedup_pairs). No LSH recall
    parameter anywhere: the cluster boundaries are bit-identical across
    engines (scaled-integer Lloyd) and within-cluster search is
    exhaustive, so the oracle match is exact by construction.

    k/iters come from the shared _SEMKM_* constants: the cached
    assignment frame, this entry, and the DuckDB oracle SQL must all
    agree or the pair set silently diverges from the oracle."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    out = similarity.semantic_dedup_pairs(
        emb, k=_SEMKM_K, iters=_SEMKM_ITERS, threshold=0.4,
        asg=_embedding_kmeans_asg(spark, sf_dir))
    return _carry_release(out, out)


def semantic_dedup_sql() -> str:
    return f"""
    WITH asg AS ({embedding_kmeans_lloyd_sql()})
    SELECT x.cluster, x.vec_id AS id_a, y.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 6)
               AS cosine
    FROM asg x JOIN asg y
      ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    JOIN embeddings a ON a.vec_id = x.vec_id
    JOIN embeddings b ON b.vec_id = y.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                 b.embedding::DOUBLE[]) >= 0.4
    """


def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite over the star schema: key
    uniqueness, referential integrity (anti-join orphan counts), null
    and domain checks — one tiny report row per check regardless of
    input size (operators/quality.py)."""
    from .operators import quality as Q
    t = load_tables(spark, sf_dir)
    li, o, c = t["lineitem"], t["orders"], t["customer"]
    return Q.run_checks([
        Q.unique_key_check(o, ["o_orderkey"], "orders"),
        Q.unique_key_check(li, ["l_orderkey", "l_linenumber"], "lineitem"),
        Q.foreign_key_check(li, "l_orderkey", o, "o_orderkey", "lineitem"),
        Q.foreign_key_check(o, "o_custkey", c, "c_custkey", "orders"),
        Q.not_null_check(li, "l_quantity", "lineitem"),
        Q.domain_check(li, (F.col("l_discount") >= 0)
                       & (F.col("l_discount") <= 1),
                       "domain(l_discount in [0,1])", "lineitem"),
        Q.domain_check(o, F.col("o_totalprice") > 0,
                       "domain(o_totalprice > 0)", "orders"),
    ])


def dq_checks_sql() -> str:
    return """
    SELECT 'unique(o_orderkey)' AS check, 'orders' AS table_name,
           (count(*) - count(DISTINCT o_orderkey))::BIGINT AS n_violations,
           count(*)::BIGINT AS n_checked,
           count(*) = count(DISTINCT o_orderkey) AS ok
    FROM orders
    UNION ALL
    SELECT 'unique(l_orderkey,l_linenumber)', 'lineitem',
           (count(*) - count(DISTINCT (l_orderkey, l_linenumber)))::BIGINT,
           count(*)::BIGINT,
           count(*) = count(DISTINCT (l_orderkey, l_linenumber))
    FROM lineitem
    UNION ALL
    SELECT 'fk(l_orderkey->o_orderkey)', 'lineitem',
           (SELECT count(*) FROM lineitem l LEFT JOIN orders o
            ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderkey IS NULL)::BIGINT,
           (SELECT count(*) FROM lineitem)::BIGINT,
           (SELECT count(*) FROM lineitem l LEFT JOIN orders o
            ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderkey IS NULL) = 0
    UNION ALL
    SELECT 'fk(o_custkey->c_custkey)', 'orders',
           (SELECT count(*) FROM orders o LEFT JOIN customer c
            ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey IS NULL)::BIGINT,
           (SELECT count(*) FROM orders)::BIGINT,
           (SELECT count(*) FROM orders o LEFT JOIN customer c
            ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey IS NULL) = 0
    UNION ALL
    SELECT 'not_null(l_quantity)', 'lineitem',
           count(*) FILTER (WHERE l_quantity IS NULL)::BIGINT,
           count(*)::BIGINT,
           count(*) FILTER (WHERE l_quantity IS NULL) = 0
    FROM lineitem
    UNION ALL
    SELECT 'domain(l_discount in [0,1])', 'lineitem',
           count(*) FILTER (WHERE NOT coalesce(
               l_discount >= 0 AND l_discount <= 1, false))::BIGINT,
           count(*)::BIGINT,
           count(*) FILTER (WHERE NOT coalesce(
               l_discount >= 0 AND l_discount <= 1, false)) = 0
    FROM lineitem
    UNION ALL
    SELECT 'domain(o_totalprice > 0)', 'orders',
           count(*) FILTER (WHERE NOT coalesce(
               o_totalprice > 0, false))::BIGINT,
           count(*)::BIGINT,
           count(*) FILTER (WHERE NOT coalesce(o_totalprice > 0,
                                               false)) = 0
    FROM orders
    """


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, 10 docs per source,
    weight = n_chars (Efraimidis-Spirakis with a portable-hash draw —
    see sampling.weighted_sample_per_group)."""
    from .operators import sampling
    docs = load_tables(spark, sf_dir)["documents"]
    return sampling.weighted_sample_per_group(
        docs, "source", "doc_id", "n_chars", k=10)


def weighted_sample_sql() -> str:
    from .functions import portable_hash as PH
    u = f"(({PH.duck_ph60(chr(39) + 'ws:' + chr(39) + ' || doc_id::VARCHAR')}) + 1)::DOUBLE / {float(1 << 60)}"
    return f"""
    SELECT source, doc_id, n_chars,
           row_number() OVER (
               PARTITION BY source
               ORDER BY CASE WHEN n_chars::DOUBLE > 0
                             THEN ln({u}) / n_chars::DOUBLE
                             ELSE '-infinity'::DOUBLE END DESC,
                        doc_id ASC) AS sample_rank
    FROM documents
    QUALIFY sample_rank <= 10
    """


def graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous label-propagation iterations over the trade graph
    (deterministic min-label tie-break — see graph.label_propagation),
    summarized as the top 30 communities by size (>= 2 members)."""
    from .operators import graph
    from .operators.ranking import bounded_global_rank
    g, bc = _trade_edges(spark, sf_dir)
    lp = graph.label_propagation(g["edges"], iters=2, nodes=g["nodes"],
                                 broadcast_labels=bc)
    sizes = (lp.groupBy("label")
             .agg(F.count(F.lit(1)).alias("n_members"))
             .filter(F.col("n_members") >= 2))
    top = sizes.orderBy(F.col("n_members").desc(),
                        F.col("label").asc()).limit(30)
    order = [F.col("n_members").desc(), F.col("label").asc()]
    return _carry_release(lp, bounded_global_rank(top, order, "rank")
                          .select("rank", "label", "n_members"))


def graph_communities_sql() -> str:
    it = """
    SELECT n.node, coalesce(b.l, p.label) AS label
    FROM nodes n
    JOIN {prev} p USING (node)
    LEFT JOIN (
        SELECT node, (min({{'nc': -c, 'l': label}})).l AS l
        FROM (SELECT e.dst AS node, r.label, count(*) AS c
              FROM edges e JOIN {prev} r ON e.src = r.node
              GROUP BY e.dst, r.label)
        GROUP BY node) b USING (node)
    """
    return f"""
    WITH pairs AS (
      SELECT DISTINCT 'c' || o.o_custkey AS c, 's' || l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    edges AS (SELECT c AS src, s AS dst FROM pairs
              UNION ALL SELECT s, c FROM pairs),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    l0 AS (SELECT node, node AS label FROM nodes),
    l1 AS ({it.format(prev="l0")}),
    l2 AS ({it.format(prev="l1")}),
    sizes AS (
      SELECT label, count(*)::BIGINT AS n_members
      FROM l2 GROUP BY label HAVING count(*) >= 2)
    SELECT row_number() OVER (ORDER BY n_members DESC, label ASC) AS rank,
           label, n_members
    FROM sizes
    ORDER BY n_members DESC, label ASC
    LIMIT 30
    """


# ================================================== web preprocessing (r14)

def html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-text extraction (operators.web.html_extract — C4-style
    line rules over deterministic, Catalyst-only string expressions):
    each document is wrapped in a synthesized page (web.synth_html —
    script/style noise, a link-dense nav, a too-short line, a cookie
    notice, a no-terminal-punctuation line; one casualty per rule, so
    every rule is exercised at every SF) and the extractor recovers the
    content paragraphs. Map-only, zero UDFs — plan-shape locked; the
    oracle re-derives synthesis AND extraction from the shared rule
    helpers, so the engines cannot silently fork."""
    docs = load_tables(spark, sf_dir)["documents"]
    synth = docs.select(
        "doc_id",
        web.synth_html(F.col("doc_id"), F.col("text"),
                       F.col("source")).alias("html"))
    return web.html_extract(synth).select(
        "doc_id", "extracted_text", "n_lines_kept", "n_lines_total")


def html_extract_sql() -> str:
    e = web.duck_html_extract_exprs(web.duck_synth_html_expr())
    return f"""
    SELECT doc_id,
           {e['extracted_text']} AS extracted_text,
           {e['n_lines_kept']} AS n_lines_kept,
           {e['n_lines_total']} AS n_lines_total
    FROM documents
    """


def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup — the FIRST dedup pass of a crawl pipeline
    (before any content hashing; CCNet/RefinedWeb practice): raw URLs
    (web.synth_url — three noisy variants per resource: case, www,
    default port, fragment, tracking params, unsorted query, trailing
    slash) are canonicalized by pure Catalyst string expressions and
    grouped; output one row per canonical resource with its variant
    count and min doc_id representative. The canonicalize step is
    map-only; the groupBy on the canonical string is the single
    exchange (the same key the content fetch would dedup on at crawl
    scale)."""
    docs = load_tables(spark, sf_dir)["documents"]
    urls = docs.select("doc_id",
                       web.synth_url(F.col("doc_id")).alias("url"))
    canon = web.canonicalize_urls(urls)
    return (canon.groupBy("canonical_url", "host")
            .agg(F.count(F.lit(1)).alias("n_variants"),
                 F.min("doc_id").alias("min_doc_id")))


def url_canonical_dedup_sql() -> str:
    c = web.duck_canonicalize_exprs(web.duck_synth_url_expr())
    return f"""
    SELECT {c['canonical_url']} AS canonical_url, {c['host']} AS host,
           count(*)::BIGINT AS n_variants,
           min(doc_id) AS min_doc_id
    FROM documents
    GROUP BY 1, 2
    """


def host_volume_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-HOST volume cap — the crawl-mix governor (RefinedWeb/CCNet
    cap how much any single site contributes before content filtering):
    canonical hosts from the synthesized URLs, then at most 25 docs per
    host chosen by the deterministic portable-hash order
    (sampling.cap_per_group — append-stable: a host's kept set never
    changes when OTHER hosts grow). One hash shuffle on the host key;
    the rank window is AQE-splittable if a host is hot — which is
    exactly the skew this operator exists to bound."""
    from .operators import sampling
    docs = load_tables(spark, sf_dir)["documents"]
    urls = docs.select("doc_id",
                       web.synth_url(F.col("doc_id")).alias("url"))
    canon = web.canonicalize_urls(urls)
    return (sampling.cap_per_group(canon, "host", "doc_id", 25)
            .select("doc_id", "host", "sample_rank"))


def host_volume_cap_sql() -> str:
    from .operators.sampling import duck_cap_rank_sql
    c = web.duck_canonicalize_exprs(web.duck_synth_url_expr())
    return f"""
    SELECT doc_id, host,
           {duck_cap_rank_sql('host', 'doc_id')} AS sample_rank
    FROM (SELECT doc_id, {c['host']} AS host FROM documents)
    QUALIFY sample_rank <= 25
    """


def _local_ckpt(df: DataFrame):
    """``localCheckpoint(eager=False)`` plus a REAL block-release handle:
    ``(ckpt_frame, release)``. The r17 form relied on the ContextCleaner
    GC-ing the unreferenced RDD (ADVICE r17: MEMORY_AND_DISK blocks pin
    memory until a GC cycle, unbounded by contract across a long bench
    session); the handle unpersists the checkpointed RDD directly. Under
    AQE the checkpoint's toRdd executes the subtree's stages at
    CONSTRUCTION time (callers must be in the plan-discipline
    EAGER_ALLOWED list) — the work still runs exactly once per
    invocation, inside the bench's timed fn()+collect window."""
    ckpt = df.localCheckpoint(eager=False)
    jrdd = ckpt._jdf.queryExecution().analyzed().rdd()
    return ckpt, (lambda: jrdd.unpersist(False))


def _pipeline_crawl_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY decide-narrow head of pipeline_web_crawl up to and
    including the payload-attach join — factored out so the plan-shape
    lock (test_web.test_pipeline_web_crawl_plan_shape) can assert the
    narrow-window/bare-equi-join shape on the lazy frame (the entry
    checkpoints it, leaving only a LogicalRDD leaf in its own plan).

    DECIDE ON NARROW ROWS, ATTACH THE PAYLOAD ONCE (r17, guide §8 /
    §2.3 "shuffle keys and metadata instead of payloads"): the dedup
    window and the host-cap window need only (doc_id, canonical_url,
    host) — the old form carried text+source through BOTH window
    exchanges, shuffling the whole corpus payload twice to compare a
    few bytes of key. Now the two exchanges move ~40 B/row and the
    text is re-attached to the (host-capped, tiny) survivor set by
    one doc_id equi-join — at 100 TB that join shuffles survivors
    only (AQE broadcasts the smaller side), and extraction still
    runs after the cap. Same rows out: dedup/cap read nothing the
    narrow frame lacks.

    Why the caller must put a barrier here (r18, replaces the r17
    OR-pin): the extraction+Gopher gate above references only
    corpus-side columns, so over this lazy join
    PushPredicateThroughJoin slides the whole interpreted gate below
    the join onto the FULL corpus (40+ s at sf0.1); the r17 OR-pin
    kept it in the join condition, but that (a) double-evaluated the
    extraction per survivor (once in the condition, once in the
    projection) and (b) inlined the ~200 KB gate expression into ONE
    operator that AQE re-stringified at every stage update — the
    reproduced stream_crawl_to_shards regression (VERDICT r17 item 1).
    The checkpointed frame is a LogicalRDD leaf: the join condition is
    the bare doc_id equi-key, and the gate runs ONCE per survivor as a
    plain Filter above the leaf. The materialized frame is small by
    construction (the host cap bounds it)."""
    from pyspark.sql import Window
    docs = load_tables(spark, sf_dir)["documents"]
    pages = docs.select(
        "doc_id", web.synth_url(F.col("doc_id")).alias("url"))
    canon = web.canonicalize_urls(pages)
    w = Window.partitionBy("canonical_url").orderBy(F.col("doc_id").asc())
    first = (canon.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1).drop("_rn", "url"))
    from .operators import sampling
    capped = (sampling.cap_per_group(first, "host", "doc_id", 10)
              .withColumnRenamed("sample_rank", "host_rank"))
    return capped.join(docs.select("doc_id", "text", "source"), "doc_id")


def pipeline_web_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END crawl preprocessing as ONE composed lazy plan — the
    web tier's pipeline entry (mirrors pipeline_corpus_clean for the
    text tier): per fetched page (raw URL + raw HTML, the synthesized
    fixtures) -> URL canonicalization -> canonical-URL dedup (first
    doc_id wins) -> per-host volume cap (10, hash order) -> HTML
    main-text extraction -> token-floor admission (>= 60 extracted
    tokens). Every stage is the already-oracle-gated operator; the
    entry proves the COMPOSITION stays one plan: canonicalize and
    extract are map-only, the dedup window and the host-cap window are
    the only two exchanges (both on short, naturally-bounded keys),
    and extraction runs AFTER the cap so the expensive string work
    touches only surviving pages — the order a crawl pipeline needs at
    100 TB, where most fetched bytes are discarded before parsing."""
    gated, release = _crawl_gate_barrier(
        _pipeline_crawl_joined(spark, sf_dir))
    out = gated.select("doc_id", "canonical_url", "host", "host_rank",
                       "n_lines_kept", "n_extracted_tokens",
                       "extracted_text")
    out.rm_release_cache = release
    return out


def _crawl_gate_barrier(joined: DataFrame):
    """Synthesize + extract + compute the Gopher gate columns for the
    capped survivors, MATERIALIZE (localCheckpoint) the narrow result,
    and apply the floor/Gopher admission as trivial column filters
    above the leaf. Returns ``(gated_frame, release)``; shared by
    pipeline_web_crawl and stream_crawl_ingest.

    Two things the barrier placement buys (r18, replaces the r17
    OR-pin; guide §5/§7.3 and _pipeline_crawl_joined's docstring):
    the gate cannot slide below the payload join (the join is inside
    the materialized subtree, the filters reference materialized
    columns of a leaf), and the extraction chain is written and
    EVALUATED exactly once per survivor — a filter above the lazy
    Project stack gets alias-substituted into one ~200 KB interpreted
    Filter condition (the CodegenFallback HOFs), which the entry's
    plan then re-prints at every stringification. Measured: entry
    plan text 206 KB -> ~4 KB; same-session interleaved mins
    unchanged-or-better on all four crawl entries."""
    paged = joined.withColumn(
        "html", web.synth_html(F.col("doc_id"), F.col("text"),
                               F.col("source")))
    # one definition of the admission rule: the computed-columns half
    # of web.extract_floor_gate (the streaming crawl loop applies the
    # same columns+filters lazily — values identical, see its docstring)
    cols = web.extract_floor_columns(paged)
    # project BEFORE the materialization: a checkpoint leaf prunes
    # nothing, so carrying html/text/ok_* into the blocks would
    # materialize dead bytes (guide §2.3 "project before the exchange")
    slim = cols.select("doc_id", "canonical_url", "host", "host_rank",
                       "n_lines_kept", "n_extracted_tokens",
                       "extracted_text", "gopher_pass")
    barrier, release = _local_ckpt(slim)
    gated = (barrier.filter(F.col("n_extracted_tokens") >= F.lit(60))
             .filter(F.col("gopher_pass")))
    return gated, release


def pipeline_web_crawl_sql() -> str:
    from .operators.sampling import duck_cap_rank_sql
    c = web.duck_canonicalize_exprs(web.duck_synth_url_expr())
    # qualify the synth inputs: the ex CTE joins cap x documents, so a
    # bare doc_id would be ambiguous
    e = web.duck_html_extract_exprs(web.duck_synth_html_expr(
        "d.doc_id", "d.text", "d.source"))
    return f"""
    WITH cn AS (SELECT doc_id, {c['canonical_url']} AS canonical_url,
                       {c['host']} AS host
                FROM documents),
    fw AS (SELECT * FROM (
               SELECT cn.*, row_number() OVER (
                   PARTITION BY canonical_url
                   ORDER BY doc_id ASC) AS rn
               FROM cn) WHERE rn = 1),
    cap AS (SELECT doc_id, canonical_url, host,
                   {duck_cap_rank_sql('host', 'doc_id')} AS host_rank
            FROM fw QUALIFY host_rank <= 10),
    ex AS (SELECT cap.doc_id, canonical_url, host, host_rank,
                  {e['n_lines_kept']} AS n_lines_kept,
                  {e['extracted_text']} AS extracted_text
           FROM cap JOIN documents d ON cap.doc_id = d.doc_id)
    SELECT * FROM (
        SELECT doc_id, canonical_url, host, host_rank, n_lines_kept,
               {web.duck_token_floor_count('extracted_text')}
                   AS n_extracted_tokens,
               extracted_text
        FROM ex)
    WHERE n_extracted_tokens >= 60
      AND {web.duck_gopher_exprs('extracted_text')['gopher_pass']}
    """


def web_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality gate (web.gopher_quality — r14 verdict
    item #5): the published Rae et al. 2021 Table A1 rules — word count
    in [50, 100k], mean word length in [3, 10], symbol-to-word ratio
    <= 0.1, <= 90% bullet-started lines, <= 30% ellipsis-ended lines,
    >= 80% alpha-bearing words, >= 2 stop words — plus the REPETITION
    sub-rules (r15 verdict item #3): duplicate-line / duplicate-
    paragraph fractions <= 30% and top 2-/3-/4-gram character coverage
    <= 20/18/16% — each as an exact integer comparison (no double
    ratios; both engines bit-agree; gram coverage is a row-local
    sorted-run fold, no exchange). Input text is synthesized per doc
    (web.synth_quality_text) so every rule has casualties at every SF.
    Map-only: one words array + one lines array per document, zero
    exchanges, fused into the scan at crawl scale."""
    docs = load_tables(spark, sf_dir)["documents"]
    pages = docs.select(
        "doc_id",
        web.synth_quality_text(F.col("doc_id"),
                               F.col("text")).alias("qtext"))
    return web.gopher_quality(pages, text_col="qtext").select(
        "doc_id", *_GOPHER_ENTRY_COLS)


#: the gopher columns the entry exposes — ONE list for both engines
_GOPHER_ENTRY_COLS = (
    "n_words", "n_lines", "ok_words", "ok_mean_word_len",
    "ok_symbol_ratio", "ok_bullet_lines", "ok_ellipsis_lines",
    "ok_alpha_words", "ok_stopwords", "ok_dup_lines", "ok_dup_paras",
    "ok_top2gram", "ok_top3gram", "ok_top4gram", "gopher_pass")


def web_quality_filter_sql() -> str:
    e = web.duck_gopher_exprs(web.duck_synth_quality_text_expr())
    cols = ", ".join(f"{e[c]} AS {c}" for c in _GOPHER_ENTRY_COLS)
    return f"SELECT doc_id, {cols} FROM documents"


def pipeline_crawl_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end artifact of the whole repo (r14 verdict item #4):
    raw fetched pages -> training shards as ONE composed lazy plan —
    URL canonicalization -> canonical-URL dedup -> per-host cap -> HTML
    extraction -> C4 token floor -> Gopher quality gate (all
    pipeline_web_crawl) -> EXTRACTED-text exact dedup (first doc per
    portable norm-hash, the same rule the streaming ingest keys its
    index on) -> NB/Pareto admission scoring the EXTRACTED text with
    the corpus-trained broadcast model (the production shape: train
    offline, gate at ingest) -> corpus-BPE exact context windows ->
    hash shard assignment. Every stage is an already-oracle-gated
    operator; this entry proves the full composition stays exact, with
    ONE materialization point — the persisted dedup output, which both
    the admission scorer and the semi-join probe consume (and where a
    real pipeline hands crawl output to training anyway).

    Scale shape: the crawl head is map-only + two short-key windows;
    the text dedup adds ONE hash exchange on the 8-byte norm hash; the
    NB gate is a broadcast token join + one id-grain aggregate; BPE
    chunking and shard assignment are map-only with driver-memoized
    merges. No global sort anywhere — at 100 TB the plan's exchanges
    are all on bounded keys (canonical_url, host, norm_hash, doc_id),
    never on token grain."""
    merges = _bpe_merges(spark, sf_dir)  # before docs — see bpe_token_count
    return _crawl_shards_tail(spark, sf_dir,
                              pipeline_web_crawl(spark, sf_dir), merges)


def _crawl_shards_tail(spark: SparkSession, sf_dir: str,
                       crawl_df: DataFrame, merges) -> DataFrame:
    """The shared crawl -> training-shards TAIL (extracted-text exact
    dedup -> NB/Pareto admission -> corpus-BPE context windows -> hash
    shards), consumed by pipeline_crawl_to_shards (hash-order crawl
    head) and stream_crawl_to_shards (arrival-order head) — one
    definition, mirrored by _crawl_shards_tail_sql.

    MATERIALIZE at the dedup output (localCheckpoint, r17 — was
    persist): quality_admit's scoring subtree and the semi-join probe
    BOTH consume it, and without a materialization the whole crawl
    chain (scan, both window exchanges, extraction, the norm-hash
    exchange) executes twice — doubling the pipeline's dominant
    parse/extract cost (r15 review). The dedup boundary is also where
    a real pipeline materializes (crawl output becomes training
    input). localCheckpoint instead of persist because it TRUNCATES
    THE LINEAGE: with persist, every tail stage's task binary and
    every AQE re-optimization above the cache still carries/walks the
    full crawl-head tree (measured 1.7-2.0 MB task binaries and
    100+ s driver stringification storms in SparkPlanInfo/AQE plan
    updates — the gate conjunction prints quadratically at each of
    ~15 stage updates), while the checkpointed frame is a leaf: the
    tail plans against a LogicalRDD. A/B at sf0.1 (4 reps
    interleaved): ckpt min 6.8 s / persist min 7.9 s, and ckpt was
    the only arm with no >13 s outlier. Trade: recompute-on-failure
    lineage is gone for this frame (executor loss re-runs the entry,
    not just the lost partitions) — acceptable for a bench/oracle
    entry; the streaming loops keep their own crash-safe layout."""
    from .operators import classifier
    from .streaming import ingest
    # NOTE: under AQE the checkpoint's toRdd EXECUTES the crawl head's
    # stages at construction time (the EAGER_ALLOWED entry in
    # test_plan_discipline documents it) — the work still runs exactly
    # once per invocation, inside the bench's timed fn()+collect window
    head_release = getattr(crawl_df, "rm_release_cache", None)
    deduped, ded_release = _local_ckpt(
        ingest.first_per_normhash(crawl_df, text_col="extracted_text"))
    docs = load_tables(spark, sf_dir)["documents"]
    vocab, consts = classifier.nb_model(docs.filter(F.expr(_NB_POS)),
                                        docs.filter(F.expr(_NB_NEG)))
    params = {k: int(v) for k, v in
              _nb_quality_params(spark, sf_dir, consts).items()}
    kept_ids = classifier.quality_admit(
        deduped, vocab, params,
        text_col="extracted_text").select("doc_id")
    kept = (deduped.join(kept_ids, "doc_id", "semi")
            .select("doc_id",
                    F.col("extracted_text").alias("text")))
    chunks = tokenizer.bpe_chunk_documents(kept, merges,
                                           chunk_tokens=_BPE_CHUNK)
    out = chunks.select(
        "doc_id", "chunk_seq", "chunk_start", "n_chunk_tokens",
        ingest.shard_col(ingest.chunk_id_col(), _INGEST_SHARDS)
        .alias("shard"),
        "chunk_text")
    # release BOTH checkpoints' blocks (the head's payload barrier and
    # the dedup boundary) — ADVICE r17: relying on the ContextCleaner
    # leaves MEMORY_AND_DISK blocks pinned until a GC cycle
    def _release():
        ded_release()
        if head_release is not None:
            head_release()

    out.rm_release_cache = _release
    return out


def _crawl_shards_tail_sql(head_sql: str) -> str:
    """DuckDB twin of _crawl_shards_tail over any crawl-head CTE body
    (must expose doc_id + extracted_text)."""
    from .operators import classifier
    from .streaming import ingest
    ctes, final = _bpe_chunk_sql_parts(rel="ck", text_col="text")
    shard = ingest.duck_shard_expr("chunk_id", _INGEST_SHARDS)
    rn = (f"row_number() OVER (PARTITION BY "
          f"{ingest.duck_norm_text_hash('extracted_text')} "
          f"ORDER BY doc_id ASC)")
    kept = classifier._duck_kept_ctes(
        _NB_POS, _NB_NEG, doc_rel="ded", text_col="extracted_text")
    return (f"""WITH crawl AS ({head_sql}),
    ded AS (SELECT * FROM (
                SELECT c.*, {rn} AS nrn FROM crawl c)
            WHERE nrn = 1),
    {kept},
    ck AS (SELECT d.doc_id, d.extracted_text AS text
           FROM ded d WHERE d.doc_id IN (SELECT doc_id FROM kept)),"""
            + _bpe_cte_chain(extra_words_rel="ck", lead="")
            + ctes + f"""
    SELECT doc_id, chunk_seq, chunk_start, n_chunk_tokens,
           {shard} AS shard, chunk_text
    FROM (SELECT q.*,
                 doc_id * {ingest.CHUNK_STRIDE} + chunk_seq AS chunk_id
          FROM ({final}) q)
    """)


def pipeline_crawl_to_shards_sql() -> str:
    return _crawl_shards_tail_sql(pipeline_web_crawl_sql())


def stream_crawl_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH TWIN of the COMPOSED streaming pipeline (r15 verdict item
    #2): the crawl-admission loop (streaming/crawl.py) chained into the
    text-ingest loop (streaming/ingest.py) through the crawl output
    directory as a file-stream source — raw fetched pages to training
    shards, fully incremental. This entry is the same composition in
    batch form: the ARRIVAL-order crawl head (stream_crawl_ingest — the
    only order an unbounded stream can honor) followed by the shared
    shards tail (_crawl_shards_tail: extracted-text exact dedup ->
    NB/Pareto admission -> corpus-BPE windows -> hash shards).
    tests/test_stream_crawl.py proves the two chained file-stream loops
    write exactly these rows across micro-batches, and a kill of the
    downstream loop mid-chain replays byte-identically.

    Scale shape: identical to pipeline_crawl_to_shards (two short-key
    windows, one norm-hash exchange, broadcast NB gate, map-only
    chunking) — the heads differ only in the host-cap ORDER."""
    merges = _bpe_merges(spark, sf_dir)  # before docs — see bpe_token_count
    return _crawl_shards_tail(spark, sf_dir,
                              stream_crawl_ingest(spark, sf_dir), merges)


def stream_crawl_to_shards_sql() -> str:
    return _crawl_shards_tail_sql(stream_crawl_ingest_sql())


def _stream_crawl_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY arrival-order head of stream_crawl_ingest up to and
    including the payload-attach join — the stream twin of
    _pipeline_crawl_joined (see that docstring for the decide-narrow /
    attach-payload rationale and why the caller checkpoints it).
    Differences from the pipeline head: canonical urls are null-
    filtered, the dedup window keys on the stream's portable url hash,
    and the host cap is in ARRIVAL (doc_id) order."""
    from pyspark.sql import Window
    docs = load_tables(spark, sf_dir)["documents"]
    pages = docs.select(
        "doc_id", web.synth_url(F.col("doc_id")).alias("url"))
    from .streaming.crawl import url_hash
    canon = (web.canonicalize_urls(pages)
             .filter(F.col("canonical_url").isNotNull()))
    # dedup keyed on the SAME portable url hash the stream's persisted
    # index stores (r15 third review: keying the twin on the raw
    # canonical_url made the proven equivalence hold only absent
    # 60-bit collisions instead of by construction)
    wurl = Window.partitionBy(
        url_hash(F.col("canonical_url"))).orderBy(F.col("doc_id").asc())
    first = (canon.withColumn("_rn", F.row_number().over(wurl))
             .filter(F.col("_rn") == 1).drop("_rn", "url"))
    whost = Window.partitionBy("host").orderBy(F.col("doc_id").asc())
    capped = (first.withColumn("host_rank",
                               F.row_number().over(whost))
              .filter(F.col("host_rank") <= _STREAM_CRAWL_CAP))
    return capped.join(docs.select("doc_id", "text", "source"), "doc_id")


def stream_crawl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH TWIN of the streaming crawl-admission loop
    (streaming/crawl.py start_crawl_ingest — r15: the web-tier
    counterpart of stream_training_ingest): URL canonicalization ->
    first-fetch-wins per canonical URL (doc_id order — the stream's
    persisted index keys on the same portable url hash) -> per-host
    volume cap in ARRIVAL (doc_id) order, the only order an unbounded
    stream can honor (pipeline_web_crawl's hash-order cap is
    append-stable for a fixed corpus but not incrementally computable —
    the same distinction as hash shards vs the offline permutation
    layout) -> HTML extraction -> C4 token floor -> Gopher gate.
    tests/test_stream_crawl.py proves a multi-micro-batch file-stream
    run of the composed loop writes exactly these rows, with
    cross-batch URL rejections and a host budget consumed ACROSS
    batches, and a kill-and-restart replay byte-identical.

    Plan shape: two short-key windows (canonical_url, host) over one
    scan; extraction and the Gopher gate are map-only and run after
    the cap — no global sort, no token-grain shuffle."""
    # extraction+gate behind the same materialization barrier as
    # pipeline_web_crawl (_crawl_gate_barrier docstring — r18)
    gated, release = _crawl_gate_barrier(
        _stream_crawl_joined(spark, sf_dir))
    out = gated.select("doc_id", "canonical_url", "host",
                       "n_lines_kept", "n_extracted_tokens",
                       "extracted_text")
    out.rm_release_cache = release
    return out


def stream_crawl_ingest_sql() -> str:
    from .streaming import crawl
    c = web.duck_canonicalize_exprs(web.duck_synth_url_expr())
    e = web.duck_html_extract_exprs(web.duck_synth_html_expr(
        "d.doc_id", "d.text", "d.source"))
    g = web.duck_gopher_exprs("extracted_text")
    return f"""
    WITH cn AS (SELECT doc_id, {c['canonical_url']} AS canonical_url,
                       {c['host']} AS host
                FROM documents
                WHERE {c['canonical_url']} IS NOT NULL),
    fw AS (SELECT * FROM (
               SELECT cn.*, row_number() OVER (
                   PARTITION BY {crawl.duck_url_hash('canonical_url')}
                   ORDER BY doc_id ASC) AS rn
               FROM cn) WHERE rn = 1),
    cap AS (SELECT doc_id, canonical_url, host
            FROM (SELECT fw.*, row_number() OVER (
                      PARTITION BY host ORDER BY doc_id ASC)
                      AS host_rank
                  FROM fw)
            WHERE host_rank <= {_STREAM_CRAWL_CAP}),
    ex AS (SELECT cap.doc_id, canonical_url, host,
                  {e['n_lines_kept']} AS n_lines_kept,
                  {e['extracted_text']} AS extracted_text
           FROM cap JOIN documents d ON cap.doc_id = d.doc_id),
    fl AS (SELECT doc_id, canonical_url, host, n_lines_kept,
                  {web.duck_token_floor_count('extracted_text')}
                      AS n_extracted_tokens,
                  extracted_text
           FROM ex)
    SELECT * FROM fl
    WHERE n_extracted_tokens >= 60 AND {g['gopher_pass']}
    """


# ================================== streaming training ingest (r14)

_INGEST_SHARDS = 8
#: per-host admission budget of the streaming crawl loop's batch twin
_STREAM_CRAWL_CAP = 10


def stream_training_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH TWIN of the streaming end-to-end training ingest loop
    (streaming/ingest.py start_training_ingest — r13 verdict item #2:
    the streaming counterpart of pipeline_training_shards): exact
    dedup (first doc per portable norm-text hash — the stream keys its
    persisted index on the same hash) -> NB/Pareto quality admission
    (the memoized single-training-instantiation model) -> corpus-BPE
    exact context windows -> HASH shard assignment (a pure per-chunk
    function, the only shard layout an unbounded stream can have —
    the global-permutation layout belongs to the offline materialize
    entries). tests/test_stream_ingest.py proves a multi-micro-batch
    file-stream run of the composed loop writes exactly these rows,
    with cross-batch index rejections exercised.

    Plan shape: the dedup window is one exchange on the 8-byte hash;
    admission is the broadcast-model map + one id-grain semi-join;
    chunking and shard assignment are map-only — no global sort
    anywhere, which is the point of the streaming layout."""
    from .operators import classifier
    from .streaming import ingest
    merges = _bpe_merges(spark, sf_dir)  # before docs — see bpe_token_count
    docs = load_tables(spark, sf_dir)["documents"]
    admitted = classifier.pareto_filter(
        _nb_scored(spark, sf_dir)).select("doc_id")
    kept = ingest.first_per_normhash(docs).join(admitted, "doc_id",
                                                "semi")
    chunks = tokenizer.bpe_chunk_documents(kept, merges,
                                           chunk_tokens=_BPE_CHUNK)
    return chunks.select(
        "doc_id", "chunk_seq", "chunk_start", "n_chunk_tokens",
        ingest.shard_col(ingest.chunk_id_col(), _INGEST_SHARDS)
        .alias("shard"),
        "chunk_text")


def stream_training_ingest_sql() -> str:
    from .operators import classifier
    from .streaming import ingest
    kept = classifier.duck_pareto_filter_sql(_NB_POS, _NB_NEG)
    shard = ingest.duck_shard_expr("chunk_id", _INGEST_SHARDS)
    return f"""
    SELECT doc_id, chunk_seq, chunk_start, n_chunk_tokens,
           {shard} AS shard, chunk_text
    FROM (SELECT q.*,
                 doc_id * {ingest.CHUNK_STRIDE} + chunk_seq AS chunk_id
          FROM ({bpe_chunks_sql()}) q
          WHERE doc_id IN (SELECT doc_id FROM ({kept}) k)
            AND doc_id IN (
                SELECT doc_id
                FROM (SELECT doc_id,
                             {ingest.duck_first_per_normhash_rn()} AS rn
                      FROM documents) d
                WHERE rn = 1))
    """


# =============================================================== registry
# name -> (entry fn, oracle SQL fn). The written order is the only order;
# __spark_entry__.queries() sorts it least-recently-green for the driver.

ENTRIES: dict = {
    "temporal_asof_join": (temporal_asof_join, temporal_asof_join_sql),
    "temporal_range_join": (temporal_range_join, temporal_range_join_sql),
    "text_vocabulary": (text_vocabulary, text_vocabulary_sql),
    "region_nation_revenue": (lambda s, d: headline.region_nation_revenue(load_tables(s, d)),
                              headline.region_nation_revenue_sql),
    "large_orders": (lambda s, d: headline.large_orders(load_tables(s, d)),
                     headline.large_orders_sql),
    "top_customer_per_nation": (
        lambda s, d: headline.top_customer_per_nation(load_tables(s, d)),
        headline.top_customer_per_nation_sql),
    "rm_datalog_join": (rm_datalog_join, rm_datalog_join_sql),
    "rm_table_paths": (rm_table_paths, rm_table_paths_sql),
    "skew_salted_join": (skew_salted_join, skew_salted_join_sql),
    "skew_salted_agg": (skew_salted_agg, skew_salted_agg_sql),
    "dataset_split": (dataset_split, dataset_split_sql),
    "stats_profile": (stats_profile, stats_profile_sql),
    "rm_nested_docs": (rm_nested_docs, rm_nested_docs_sql),
    "top_revenue_orders": (lambda s, d: headline.top_revenue_orders(load_tables(s, d)),
                           headline.top_revenue_orders_sql),
    "events_by_type": (lambda s, d: headline.events_by_type(load_tables(s, d)),
                       headline.events_by_type_sql),
    "rm_express_map": (rm_express_map, rm_express_map_sql),
    "rm_express_reduce": (rm_express_reduce, rm_express_reduce_sql),
    "multimodal_features": (multimodal_features, multimodal_features_sql),
    "pipeline_corpus_clean": (pipeline_corpus_clean, pipeline_corpus_clean_sql),
    "dedup_token_jaccard": (dedup_token_jaccard, dedup_token_jaccard_sql),
    "sample_per_group": (sample_per_group, sample_per_group_sql),
    "dedup_exact": (dedup_exact, dedup_exact_sql),
    "text_fingerprint": (text_fingerprint, text_fingerprint_sql),
    "text_lang_id": (text_lang_id, text_lang_id_sql),
    "text_token_count": (text_token_count, text_token_count_sql),
    "text_quality": (text_quality, text_quality_sql),
    "rm_qvar_project": (rm_qvar_project, rm_qvar_project_sql),
    "rm_eav_wildcard": (rm_eav_wildcard, rm_eav_wildcard_sql),
    "rm_scalar_battery": (rm_scalar_battery, rm_scalar_battery_sql),
    "rm_datetime_ops": (rm_datetime_ops, rm_datetime_ops_sql),
    "string_battery": (string_battery, string_battery_sql),
    "stream_tumbling": (stream_tumbling, stream_tumbling_sql),
    "stream_sliding": (stream_sliding, stream_sliding_sql),
    "stream_session": (stream_session, stream_session_sql),
    "stream_running_totals": (stream_running_totals, stream_running_totals_sql),
    "stream_dedup": (stream_dedup, stream_dedup_sql),
    "stream_join": (stream_join, stream_join_sql),
    "dedup_groups": (dedup_groups, dedup_groups_sql),
    "dedup_simhash": (dedup_simhash, dedup_simhash_sql),
    "ann_bruteforce_topk": (ann_bruteforce_topk, ann_bruteforce_topk_sql),
    # persisted-index incremental-admission probes
    "neardup_probe": (neardup_probe, neardup_probe_sql),
    "embedding_probe": (embedding_probe, embedding_probe_sql),
    "neardup_admit": (neardup_admit, neardup_admit_sql),
    "semantic_dedup": (semantic_dedup, semantic_dedup_sql),
    "substring_dup_spans": (substring_dup_spans, substring_dup_spans_sql),
    "dedup_embedding_cosine": (dedup_embedding_cosine, dedup_embedding_cosine_sql),
    "dedup_minhash_lsh": (dedup_minhash_lsh, dedup_minhash_lsh_sql),
    "graph_pagerank": (graph_pagerank, graph_pagerank_sql),
    "graph_communities": (graph_communities, graph_communities_sql),
    "ann_ivf_topk": (ann_ivf_topk, ann_ivf_topk_sql),
    "pricing_summary": (lambda s, d: headline.pricing_summary(load_tables(s, d)),
                        headline.pricing_summary_sql),
    "cdc_merge": (cdc_merge, cdc_merge_sql),
    "weighted_sample": (weighted_sample, weighted_sample_sql),
    "doc_chunks": (doc_chunks, doc_chunks_sql),
    "seq_pack": (seq_pack, seq_pack_sql),
    "text_pii_scrub": (text_pii_scrub, text_pii_scrub_sql),
    "text_inverted_index": (text_inverted_index, text_inverted_index_sql),
    "text_bm25": (text_bm25, text_bm25_sql),
    "embedding_kmeans": (embedding_kmeans, embedding_kmeans_sql),
    "events_gapfill": (events_gapfill, events_gapfill_sql),
    "event_markov": (event_markov, event_markov_sql),
    "events_anomalies": (events_anomalies, events_anomalies_sql),
    "doc_chunks_cdc": (doc_chunks_cdc, doc_chunks_cdc_sql),
    "embedding_kmeans_lloyd": (embedding_kmeans_lloyd,
                               embedding_kmeans_lloyd_sql),
    "dq_checks": (dq_checks, dq_checks_sql),
    "ann_pq_topk": (ann_pq_topk, ann_pq_topk_sql),
    "ann_opq_topk": (ann_opq_topk, ann_opq_topk_sql),
    "quality_probe": (quality_probe, quality_probe_sql),
    "embedding_quantize": (embedding_quantize, embedding_quantize_sql),
    "numeric_battery": (numeric_battery, numeric_battery_sql),
    "temporal_rollup": (temporal_rollup, temporal_rollup_sql),
    "text_tfidf": (text_tfidf, text_tfidf_sql),
    "text_bigram_pmi": (text_bigram_pmi, text_bigram_pmi_sql),
    "stats_histogram": (stats_histogram, stats_histogram_sql),
    "stats_outliers": (stats_outliers, stats_outliers_sql),
    "temporal_sessionize": (temporal_sessionize, temporal_sessionize_sql),
    "window_battery": (window_battery, window_battery_sql),
    "events_pivot": (events_pivot, events_pivot_sql),
    "sales_rollup": (sales_rollup, sales_rollup_sql),
    "events_json_extract": (events_json_extract, events_json_extract_sql),
    "customers_without_orders": (customers_without_orders,
                                 customers_without_orders_sql),
    "urgent_and_low_customers": (urgent_and_low_customers,
                                 urgent_and_low_customers_sql),
    "orders_above_customer_avg": (orders_above_customer_avg,
                                  orders_above_customer_avg_sql),
    "lang_id_eval": (lang_id_eval, lang_id_eval_sql),
    "events_unpivot": (events_unpivot, events_unpivot_sql),
    "brand_revenue": (brand_revenue, brand_revenue_sql),
    "decontam_ngram": (decontam_ngram, decontam_ngram_sql),
    "text_repetition": (text_repetition, text_repetition_sql),
    "source_mixture": (source_mixture, source_mixture_sql),
    "blocklist_scrub": (blocklist_scrub, blocklist_scrub_sql),
    "ann_range_search": (ann_range_search, ann_range_search_sql),
    "event_funnel": (event_funnel, event_funnel_sql),
    "user_cohorts": (user_cohorts, user_cohorts_sql),
    "events_twap": (events_twap, events_twap_sql),
    "mixture_sample": (mixture_sample, mixture_sample_sql),
    "fuzzy_part_names": (fuzzy_part_names, fuzzy_part_names_sql),
    "customer_deciles": (customer_deciles, customer_deciles_sql),
    # NEW r9: distributed embedding linear algebra
    "embedding_gram": (embedding_gram, embedding_gram_sql),
    "embedding_pca": (embedding_pca, embedding_pca_sql),
    "dsir_select": (dsir_select, dsir_select_sql),
    # NEW r10: CCNet bigram-LM scoring + quality bucketing (wires the
    # r9 lm.py module to its own oracle SQL — VERDICT r9 item #1)
    "lm_score": (lm_score, lm_score_sql),
    "lm_bucket": (lm_bucket, lm_bucket_sql),
    "moore_lewis_select": (moore_lewis_select, moore_lewis_select_sql),
    "substring_removal_spans": (substring_removal_spans,
                                substring_removal_spans_sql),
    # NEW r11: the apply side of the Lee et al. substring-dedup loop —
    # scrubbed TEXT is oracle-checked, not just range arithmetic
    "substring_scrub": (substring_scrub, substring_scrub_sql),
    # NEW r11: perceptual-hash image near-dup (multimodal -> dedup
    # bridge; deterministic fake-decode strip, oracle-exact)
    "image_phash_neardup": (image_phash_neardup, image_phash_neardup_sql),
    # NEW r11: corpus-trained BPE — the oracle re-trains the merge
    # table in 16 chained SQL iterations AND re-applies it
    "bpe_token_count": (bpe_token_count, bpe_token_count_sql),
    # NEW r11 (second batch): the composed loops —
    # phash pairs -> connected components, and exact-BPE-token chunking
    "image_dedup_groups": (image_dedup_groups, image_dedup_groups_sql),
    "bpe_chunks": (bpe_chunks, bpe_chunks_sql),
    # NEW r11: stream-native media dedup (phash admission filter) —
    # batch shape oracle; the file-stream test proves cross-batch state
    "stream_media_dedup": (stream_media_dedup, stream_media_dedup_sql),
    # NEW r12: GPT-3-style quality classifier (NB train + score, exact
    # micro-nat arithmetic) and its documented Pareto admission rule
    # with a deterministic hash-derived draw (classifier.py)
    "nb_quality_score": (nb_quality_score, nb_quality_score_sql),
    "nb_pareto_filter": (nb_pareto_filter, nb_pareto_filter_sql),
    # NEW r12: the stream-capable quality gate (score-at-ingest; batch
    # twin = per-source admission telemetry; file-stream test proves
    # the watermarked kept set equals the batch twin)
    "stream_quality_filter": (stream_quality_filter,
                              stream_quality_filter_sql),
    # NEW r12: embedding-space decontamination — the semantic complement
    # of decontam_ngram (broadcast benchmark, exact cosine)
    "decontam_embedding": (decontam_embedding, decontam_embedding_sql),
    # NEW r12 (second batch): deterministic global
    # training shuffle + fixed-size sharding via distributed global_rank
    "corpus_shuffle": (corpus_shuffle, corpus_shuffle_sql),
    # NEW r12 (second batch): source-proportional interleaving — every
    # prefix of the reading order holds the corpus-wide mixture
    "mixture_interleave": (mixture_interleave, mixture_interleave_sql),
    # NEW r13: per-epoch reshuffle — epoch folds into the permutation
    # salt; epochs 1-3 materialized side by side and value-gated
    "corpus_shuffle_epoch": (corpus_shuffle_epoch,
                             corpus_shuffle_epoch_sql),
    # NEW r13: the pipeline's end product — BPE-exact context windows,
    # shuffled, exact-sharded, WRITTEN as hive-partitioned parquet and
    # read back, value-gated against a DuckDB twin of the composition
    "materialize_training_shards": (materialize_training_shards,
                                    materialize_training_shards_sql),
    # NEW r13: the same artifact with the full pipeline upstream —
    # dedup + NB Pareto admission before tokenize/shuffle/shard/write;
    # one DuckDB statement re-derives the whole composition
    "pipeline_training_shards": (pipeline_training_shards,
                                 pipeline_training_shards_sql),
    # NEW r13 (second batch): training-mix selection/ordering — the
    # exact global prefix-sum budget cut, alpha-sampling with exact
    # largest-remainder allocation, staged curriculum order, and
    # quality-aware near-dup canonicalization
    "token_budget_select": (token_budget_select,
                            token_budget_select_sql),
    "mixture_temperature": (mixture_temperature,
                            mixture_temperature_sql),
    "curriculum_order": (curriculum_order, curriculum_order_sql),
    "dedup_keep_best": (dedup_keep_best, dedup_keep_best_sql),
    # NEW r13: split-contamination QA — near-dup pairs straddling
    # train/val/test (map-only over the shared pair derivation)
    "split_leakage_check": (split_leakage_check,
                            split_leakage_check_sql),
    # NEW r13: the decontaminated eval set (what the leakage check
    # detects, this delivers) and the classifier calibration loop
    "clean_holdout": (clean_holdout, clean_holdout_sql),
    "nb_calibration": (nb_calibration, nb_calibration_sql),
    # NEW r13: trainer-facing per-shard manifest over the read-back
    # materialized artifact (rows, tokens, contiguous rank range)
    "shard_manifest": (shard_manifest, shard_manifest_sql),
    # NEW r13: per-domain budget cap (partitioned-window twin of the
    # global budget cut) and per-source duplication telemetry
    "token_budget_per_source": (token_budget_per_source,
                                token_budget_per_source_sql),
    "dedup_rate_report": (dedup_rate_report, dedup_rate_report_sql),
    # NEW r14: crawl-side web preprocessing — HTML main-text extraction
    # (C4-style line rules, map-only Catalyst), canonical-URL dedup and
    # the per-host volume cap (CCNet/RefinedWeb crawl governors)
    "html_extract": (html_extract, html_extract_sql),
    "url_canonical_dedup": (url_canonical_dedup, url_canonical_dedup_sql),
    "host_volume_cap": (host_volume_cap, host_volume_cap_sql),
    # NEW r14: batch twin of the streaming end-to-end training ingest
    # loop (streaming/ingest.py; multi-micro-batch differential in
    # tests/test_stream_ingest.py)
    "stream_training_ingest": (stream_training_ingest,
                               stream_training_ingest_sql),
    # NEW r14: the web tier's end-to-end composition (canonicalize ->
    # dedup -> host cap -> extract -> token-floor admit, one lazy plan)
    "pipeline_web_crawl": (pipeline_web_crawl, pipeline_web_crawl_sql),
    # NEW r15: the Gopher document-quality gate (Rae et al. 2021) —
    # the standard second filter on extracted web text, composed into
    # pipeline_web_crawl and exposed standalone here
    "web_quality_filter": (web_quality_filter, web_quality_filter_sql),
    # NEW r15: the full crawl -> training-shards composition (r14
    # verdict item #4) — the end-to-end artifact of the repo
    "pipeline_crawl_to_shards": (pipeline_crawl_to_shards,
                                 pipeline_crawl_to_shards_sql),
    # NEW r15: batch twin of the streaming crawl-admission loop
    # (streaming/crawl.py; multi-micro-batch differential in
    # tests/test_stream_crawl.py)
    "stream_crawl_ingest": (stream_crawl_ingest,
                            stream_crawl_ingest_sql),
    # NEW r16: batch twin of the COMPOSED crawl->shards streaming
    # chain (crawl loop -> file-stream source -> ingest loop; r15
    # verdict item #2) — arrival-order head + the shared shards tail
    "stream_crawl_to_shards": (stream_crawl_to_shards,
                               stream_crawl_to_shards_sql),
}
