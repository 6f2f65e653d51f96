"""Seeded input generation for the benchmark.

Tables are written with DuckDB (no second SparkSession, so set-up stays
small) in the physical layout of the engine's fixture parquet: INT32/INT64
keys, DOUBLE money, microsecond TIMESTAMP columns without UTC adjustment
(Spark reads them as ``timestamp_ntz``) and ``LIST<FLOAT>`` embeddings.
Every value is a function of ``hash(seed, ...)``, and DuckDB runs
single-threaded with ordered output, so one seed always yields
byte-identical files.

The documents table plants the three regimes of ``scripts/gen_sf1.py``:
exact duplicates (doc_id % 625 in {0, 1} share a seed text), near-duplicate
clusters (doc_id % 50 in {0, 1, 2}, ~3% word mutation) and repeated
18-word spans (seed % 19 < 3). ``vocab_mult`` widens the vocabulary with
suffix variants, as that script does for its larger corpus. Embeddings
are clustered rather than uniform (see the query below) so that the
approximate LSH entries stay exact on every seed.

``rm_api_rounds`` builds the request stream of the ``rm_api`` workload:
for each round, a batch of fresh program texts (the cold pass) and the
same texts again with new data (the warm pass), each request carrying
the value a correct server must return, computed in plain Python.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# the word set of the engine's document fixtures
BASE_VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data",
              "dup", "fast", "filter", "group", "hash", "join", "key",
              "line", "merge", "order", "part", "query", "row", "scan",
              "slow", "small", "sort", "spark", "stream", "table", "the",
              "value", "vector", "window")

# workload name -> (scale factor, documents, embeddings, vocab_mult)
SIZES = {
    "entries_small": (0.01, 500, 500, 1),
}


def _lst(xs) -> str:
    return "[" + ", ".join("'" + x + "'" for x in xs) + "]"


def write_tables(out_dir: str, seed: int, sf: float, n_docs: int,
                 n_embs: int, vocab_mult: int) -> dict:
    """Write the ten engine tables under out_dir; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(100, int(15_000 * sf))
    vocab = sorted({w if k == 0 else f"{w}_{k}" for w in BASE_VOCAB
                    for k in range(vocab_mult)})
    s = int(seed)

    def h(*parts) -> str:
        return "hash(" + ", ".join([str(s)] + [str(p) for p in parts]) + ")"

    def pick(values, *parts) -> str:
        return f"{_lst(values)}[1 + ({h(*parts)} % {len(values)})::INTEGER]"

    def unit(*parts) -> str:  # uniform in [0, 1)
        return f"(({h(*parts)} % 1000000)::DOUBLE / 1000000.0)"

    queries = {
        "region": """SELECT i::INTEGER AS r_regionkey,
                ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1]
                AS r_name FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER AS n_nationkey,
                'NATION_' || i AS n_name, (i % 5)::INTEGER AS n_regionkey
                FROM range(25) t(i)""",
        "customer": f"""SELECT i::BIGINT AS c_custkey,
                'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                ({h(11, 'i', 1)} % 25)::INTEGER AS c_nationkey,
                round(-999.99 + {unit(11, 'i', 2)} * 10999.79, 2) AS c_acctbal,
                {pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
                       'MACHINERY'], 11, 'i', 3)} AS c_mktsegment
                FROM range({n_cust}) t(i)""",
        "supplier": f"""SELECT i::BIGINT AS s_suppkey,
                'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                ({h(12, 'i', 1)} % 25)::INTEGER AS s_nationkey,
                round(-999.99 + {unit(12, 'i', 2)} * 10999.79, 2) AS s_acctbal
                FROM range({n_supp}) t(i)""",
        "part": f"""SELECT i::BIGINT AS p_partkey,
                {pick(['blue', 'cold', 'hot', 'large', 'old', 'red', 'small'],
                      13, 'i', 1)} || ' ' ||
                {pick(['anvil', 'bolt', 'gear', 'plate', 'ring', 'rod',
                       'widget'], 13, 'i', 2)} AS p_name,
                'Brand#' || (1 + {h(13, 'i', 3)} % 25) AS p_brand,
                {pick(['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL',
                       'STANDARD'], 13, 'i', 4)} AS p_type,
                (1 + {h(13, 'i', 5)} % 50)::INTEGER AS p_size,
                round(900.0 + ({h(13, 'i', 6)} % 1000) / 10.0, 1)
                AS p_retailprice
                FROM range({n_part}) t(i)""",
        "orders": f"""SELECT i::BIGINT AS o_orderkey,
                ({h(14, 'i', 1)} % {n_cust})::BIGINT AS o_custkey,
                {pick(['F', 'O', 'P'], 14, 'i', 2)} AS o_orderstatus,
                round(1000.0 + {unit(14, 'i', 3)} * 499000.0, 2)
                AS o_totalprice,
                TIMESTAMP '1995-01-01'
                  + to_days(({h(14, 'i', 4)} % 2404)::INTEGER) AS o_orderdate,
                {pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                       '5-LOW'], 14, 'i', 5)} AS o_orderpriority
                FROM range({n_ord}) t(i)""",
        "lineitem": f"""SELECT ({h(15, 'i', 1)} % {n_ord})::BIGINT AS l_orderkey,
                ({h(15, 'i', 2)} % {n_part})::BIGINT AS l_partkey,
                ({h(15, 'i', 3)} % {n_supp})::BIGINT AS l_suppkey,
                (1 + {h(15, 'i', 4)} % 7)::INTEGER AS l_linenumber,
                (1 + {h(15, 'i', 5)} % 50)::DOUBLE AS l_quantity,
                round(900.0 + {unit(15, 'i', 6)} * 104099.0, 2)
                AS l_extendedprice,
                ({h(15, 'i', 7)} % 11)::DOUBLE / 100.0 AS l_discount,
                ({h(15, 'i', 8)} % 9)::DOUBLE / 100.0 AS l_tax,
                {pick(['A', 'N', 'R'], 15, 'i', 9)} AS l_returnflag,
                {pick(['F', 'O'], 15, 'i', 10)} AS l_linestatus,
                TIMESTAMP '1995-01-02'
                  + to_days(({h(15, 'i', 11)} % 2498)::INTEGER) AS l_shipdate
                FROM range({n_li}) t(i) ORDER BY i""",
        "events": f"""SELECT i::BIGINT AS event_id,
                TIMESTAMP '2024-01-01' + to_microseconds((i * {2_592_000_000_000 // max(1, n_ev)}
                  + {h(16, 'i', 1)} % {2_592_000_000_000 // max(1, n_ev)})::BIGINT) AS ts,
                ({h(16, 'i', 2)} % {n_users})::BIGINT AS user_id,
                {pick(['click', 'error', 'purchase', 'signup', 'view'],
                      16, 'i', 3)} AS event_type,
                round({unit(16, 'i', 4)} * {unit(16, 'i', 5)} * 560.0, 2)
                AS value,
                '{{"k": ' || ({h(16, 'i', 6)} % 100) || '}}' AS props
                FROM range({n_ev}) t(i)""",
        "documents": f"""WITH d AS (
                  SELECT i AS doc_id,
                    CASE WHEN i % 625 < 2 THEN i - i % 625
                         WHEN i % 50 < 3 THEN i - i % 50 ELSE i END AS sd,
                    (i % 625 >= 2 AND i % 50 < 3) AS mut
                  FROM range({n_docs}) t(i)),
                body AS (
                  SELECT doc_id, sd, mut,
                    unnest(range(6 + ({h('sd', 1)} % 85)::INTEGER)) AS j
                  FROM d),
                span AS (
                  SELECT doc_id, sd, 1000 + j AS j,
                    {h(f"{h('sd', 7)} % 400", 'j', 6)} AS wh
                  FROM d, range(18) r(j) WHERE sd % 19 < 3),
                pos AS (
                  SELECT doc_id, j, CASE WHEN mut AND {h('doc_id', 'j', 9)} % 31 = 0
                                    THEN {h('doc_id', 'j', 10)}
                                    ELSE {h('sd', 'j', 2)} END AS wh FROM body
                  UNION ALL SELECT doc_id, j, wh FROM span),
                txt AS (
                  SELECT doc_id, string_agg(w, ' ' ORDER BY j) AS text
                  FROM pos JOIN vocab ON vocab.idx = pos.wh % {len(vocab)}
                  GROUP BY doc_id)
                SELECT d.doc_id::BIGINT AS doc_id, text,
                  {pick(['de', 'en', 'en', 'en', 'es', 'fr', 'zh'],
                        'd.doc_id', 3)} AS lang,
                  'src' || ({h('sd', 4)} % 20) AS source,
                  length(text)::BIGINT AS n_chars
                FROM d JOIN txt ON d.doc_id = txt.doc_id
                ORDER BY d.doc_id""",
        # each vector is one of 128 signed Hadamard rows (entries +-0.3)
        # plus hash-uniform noise in [-0.1, 0.1]: same-row pairs have
        # cosine ~0.96, all others ~0 +- 0.03, so no pair sits near the
        # 0.45 threshold of dedup_embedding_cosine, where its banded LSH
        # recall (exact on the fixtures) would depend on the seed
        "embeddings": f"""SELECT i::BIGINT AS vec_id, list_transform(range(64),
                  k -> ((CASE WHEN bit_count((ctr % 64) & k) % 2 = 0
                              THEN 0.3 ELSE -0.3 END)
                        * (CASE WHEN ctr < 64 THEN 1 ELSE -1 END)
                        + (({h(17, 'i', 'k')} % 2001)::INTEGER - 1000)
                          / 10000.0)::FLOAT) AS embedding,
                (i % 10)::INTEGER AS label
                FROM (SELECT i, ({h(17, 'i', 64)} % 128)::BIGINT AS ctr
                      FROM range({n_embs}) t(i))""",
    }
    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")
        con.execute("SET preserve_insertion_order = true")
        con.execute("CREATE TABLE vocab (idx UBIGINT, w VARCHAR)")
        con.executemany("INSERT INTO vocab VALUES (?, ?)", list(enumerate(vocab)))
        counts = {}
        for name in TABLES:
            path = os.path.join(out_dir, f"{name}.parquet")
            con.execute(f"COPY ({queries[name]}) TO '{path}' (FORMAT parquet)")
            counts[name] = con.execute(
                f"SELECT count(*) FROM '{path}'").fetchone()[0]
        return counts
    finally:
        con.close()


# ------------------------------------------------------------ rm_api stream

_COLOURS = ("Black", "Blue", "Green", "Purple", "Red", "White")


def _account(rng: random.Random) -> dict:
    """One F1-shaped Account/Order/Product document (integer prices in
    cents, so every expected sum is exact)."""
    orders = []
    for o in range(rng.randint(3, 8)):
        prods = []
        for p in range(rng.randint(3, 10)):
            prods.append({
                "Product Name": f"Item {rng.randint(1, 999)}",
                "ProductID": rng.randint(100000, 999999),
                "SKU": f"{rng.randint(0, 99999999):08d}",
                "Description": {"Colour": rng.choice(_COLOURS),
                                "Width": rng.randint(100, 400),
                                "Height": rng.randint(100, 400),
                                "Depth": rng.randint(10, 300),
                                "Weight": rng.randint(1, 90)},
                "Price": rng.randint(100, 9999),
                "Quantity": rng.randint(1, 9)})
        orders.append({"OrderID": f"order{rng.randint(100000, 999999)}",
                       "Product": prods})
    return {"Account": {"Account Name": f"Firefly{rng.randint(1, 99)}",
                        "Order": orders}}


def _products(doc: dict) -> list:
    return [p for o in doc["Account"]["Order"] for p in o["Product"]]


def _path_sum(rng, k):
    q = rng.randint(1, 6)
    code = f"$sum(Account.Order.Product[Quantity >= {q}].(Price * Quantity + {k}))"

    def make(r):
        d = _account(r)
        return d, sum(p["Price"] * p["Quantity"] + k
                      for p in _products(d) if p["Quantity"] >= q)
    return code, make


def _path_filter(rng, k):
    t = rng.randint(2000, 8000)
    code = f"[Account.Order.Product[Price + {k} > {t + k}].SKU]"

    def make(r):
        d = _account(r)
        return d, [p["SKU"] for p in _products(d) if p["Price"] > t]
    return code, make


def _path_hof(rng, k):
    q = rng.randint(1, 6)
    code = ("$reduce($map($filter(Account.Order.Product, function($v)"
            f"{{$v.Quantity > {q}}}), function($v){{$v.Price * {k}}}),"
            " function($a, $b){$a + $b}, 0)")

    def make(r):
        d = _account(r)
        return d, sum(p["Price"] * k for p in _products(d)
                      if p["Quantity"] > q)
    return code, make


def _query_join(rng, k):
    n = rng.randint(40, 80)
    t = rng.randint(0, 500)
    code = ("( $q := query{[$dba ?e1 :id ?id] [$dba ?e1 :aAttr ?aval]"
            " [$dbb ?e2 :id ?id] [$dbb ?e2 :bAttr ?bval]"
            f" [($boolean(?id + {k} > {k + t}))]}}; $q($.dba, $.dbb) )")

    def make(r):
        ids = r.sample(range(1000), n)
        dba = [{"id": i, "aAttr": f"a{r.randint(0, 9999)}"} for i in ids]
        dbb = [{"id": i, "bAttr": f"b{r.randint(0, 9999)}"}
               for i in r.sample(ids, n // 2) + r.sample(range(1000, 2000), n // 2)]
        bval = {x["id"]: x["bAttr"] for x in dbb}
        want = [{"id": x["id"], "aval": x["aAttr"], "bval": bval[x["id"]]}
                for x in dba if x["id"] in bval and x["id"] > t]
        return {"dba": dba, "dbb": dbb}, want
    return code, make


def _query_reduce(rng, k):
    t = rng.randint(100, 200)
    code = ("( $q := query{[?e :owner ?o] [?e :system ?s] [?e :device ?d]"
            f" [?e :id ?id] [($boolean(?id + {k} > {k + t}))]}};"
            " $reduce($q($), express{{'owners': {?o: {'systems':"
            " {?s: {?d: {'id': ?id}}}}}}}) )")

    def make(r):
        rows, want = [], {}
        for i in range(r.randint(20, 40)):
            row = {"owner": f"owner{r.randint(1, 3)}",
                   "system": f"system{r.randint(1, 4)}",
                   "device": f"device{i}", "id": 100 + i * 7 + r.randint(0, 6),
                   "status": "Ok"}
            rows.append(row)
            if row["id"] > t:
                want.setdefault(row["owner"], {"systems": {}})["systems"] \
                    .setdefault(row["system"], {})[row["device"]] = {"id": row["id"]}
        return rows, {"owners": want}
    return code, make


def _datalog(rng, k):
    sdo = rng.choice(("oagi", "qif", "cefact"))
    qforms = f'[[?e :schema/name ?n] [?e :schema/sdo "{sdo}"] [?e :schema/v {k}]]'

    def make(r):
        # distinct names: the reply is a set of bindings
        data = [{"schema/name": f"urn:{i}",
                 "schema/sdo": r.choice(("oagi", "qif", "cefact")),
                 "schema/v": r.choice((k, k + 1))}
                for i in r.sample(range(10**6), r.randint(10, 30))]
        want = [{"n": x["schema/name"]} for x in data
                if x["schema/sdo"] == sdo and x["schema/v"] == k]
        return data, want
    return qforms, make


# template name -> (route, builder); builders take (rng, literal) and
# return (program text, data maker)
TEMPLATES = {
    "path_sum": ("process-rm", _path_sum),
    "path_filter": ("process-rm", _path_filter),
    "path_hof": ("process-rm", _path_hof),
    "query_join": ("process-rm", _query_join),
    "query_reduce": ("process-rm", _query_reduce),
    "datalog_qforms": ("datalog-query", _datalog),
}
CATALOG_KEYS = 16  # catalog idents cycle over this many keys: bounded file


def _request(name, route, text, data, want):
    if route == "datalog-query":
        body = {"qforms": text, "data": data}
    else:
        body = {"code": text, "data": data}
    return {"template": name, "method": "POST", "path": "/api/" + route,
            "body": body, "want": want}


def rm_api_rounds(seed: int, per_client: int = 30):
    """Endless rounds of [cold pass, warm pass]; each pass is a pair of
    per-client request lists. Every client list holds each template
    equally often, in seeded order, so seeds vary the data and not the
    mix. Client 0 carries every catalog request (a graph-put or
    graph-get after every fifth program, about 10% of all requests);
    client 1 carries none."""
    rng = random.Random(seed)
    names = sorted(TEMPLATES) * max(1, per_client // len(TEMPLATES))
    stored: dict = {}
    r = 0
    while True:
        programs = []
        for c in range(2):
            order = rng.sample(names, len(names))
            progs = []
            for i, name in enumerate(order):
                route, build = TEMPLATES[name]
                # the literal makes the text new to the server this round
                text, make = build(rng, 1 + (2 * r + c) * len(names) + i)
                progs.append((name, route, text, make))
            programs.append(progs)
        passes = []
        for _ in range(2):  # cold: new texts; warm: same texts, new data
            lists = []
            for c in range(2):
                reqs = []
                for i, (name, route, text, make) in enumerate(programs[c]):
                    data, want = make(rng)
                    reqs.append(_request(name, route, text, data, want))
                    if c == 0 and i % 5 == 4:
                        reqs.append(_catalog_request(rng, stored))
                lists.append(reqs)
            passes.append(lists)
        yield passes
        r += 1


def _catalog_request(rng: random.Random, stored: dict) -> dict:
    key = f"urn:bench:{rng.randrange(CATALOG_KEYS)}"
    if key in stored and rng.random() < 0.5:
        props = sorted(stored[key])[:2]
        return {"template": "catalog_get", "method": "GET",
                "path": "/api/graph-get?ident-type=schema/name&ident-val="
                        + key + "&request-objs=" + "|".join(props),
                "body": None, "want": {p: stored[key][p] for p in props}}
    obj = {"schema/name": key, "schema/sdo": rng.choice(("oagi", "qif")),
           "n": rng.randint(0, 10**6),
           "fields": [f"f{rng.randint(0, 999)}" for _ in range(rng.randint(5, 40))]}
    stored[key] = obj
    return {"template": "catalog_put", "method": "POST", "path": "/api/graph-put",
            "body": {"put-ident-type": "schema/name", "put-ident-val": key,
                     "put-obj": obj}, "want": "success"}


def stream_digest(seed: int, rounds: int) -> str:
    first = list(itertools.islice(rm_api_rounds(seed), rounds))
    return hashlib.sha256(json.dumps(first, sort_keys=True).encode()).hexdigest()
