"""`query{}` compiled to DataFrame equi-joins.

SURVEY.md §2.3-2.4: each triple pattern is a filtered/projected frame;
shared query variables become inner equi-join keys; the binding set IS a
DataFrame whose columns are the qvars.

Two physical strategies per source:

- **Direct-column** (flat fixed-schema table — the 100 TB hot path): all
  patterns over one entity variable collapse into a single projection of
  the source table (attr -> column), so Catalyst sees plain scans with
  pushed-down literal filters and column pruning; a query{} over
  orders⋈lineitem becomes exactly the join Catalyst would get from SQL.
  No shred, no extra shuffle.
- **EAV shred** (nested/heterogeneous data or attribute wildcards):
  operators/eav.py produces triples(eid, attr, val); each pattern is a
  `attr = lit` filter + projection, joined on shared vars. Long-skinny
  tables partition well at scale; per-pattern frames are
  broadcast-joined when small.

Join order: patterns with literal constraints first (most selective),
then connected patterns (shared vars) before disconnected ones
(cross joins last). AQE refines at runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lang import ast as A
from .query_local import NEVER, attr_of
from .spark_bridge import SparkBindingSets, SparkDB


def _is_flat(df: DataFrame) -> bool:
    return all(t[1][:6] not in ("struct", "array<") and not t[1].startswith("array")
               for t in df.dtypes)


def run_query_spark(ip, q, dbs: dict, env) -> SparkBindingSets:
    subs = q.param_subs or {}
    triples = [p for p in q.patterns if isinstance(p, A.TriplePattern)]
    preds = [p for p in q.patterns if isinstance(p, A.PredPattern)]

    # group patterns by (db, entity var) -> entity frames
    groups: dict[tuple, list] = {}
    order: list[tuple] = []
    for pat in triples:
        ent = pat.e.name if isinstance(pat.e, A.QVar) else f"_lit_{id(pat)}"
        key = (pat.db, ent)
        if key not in groups:
            groups[key] = []
            order.append(key)
        groups[key].append(pat)

    frames: list[tuple[DataFrame, set, int]] = []  # (frame, qvar cols, n_literal_filters)
    entity_vars: set[str] = set()
    for key in order:
        db_name, ent = key
        db = dbs.get(db_name, dbs[None])
        pats = groups[key]
        if isinstance(pats[0].e, A.QVar):
            entity_vars.add(pats[0].e.name[1:])
        frame, cols, selectivity = _entity_frame(ip, db, pats, subs)
        ent = pats[0].e.name[1:] if isinstance(pats[0].e, A.QVar) else None
        if q.options.get("keepDBid") and ent and ent not in frame.columns:
            # flat tables have no stored eid; synthesize a surrogate
            frame = frame.withColumn(ent, F.monotonically_increasing_id())
            cols = cols | {ent}
        frames.append((frame, cols, selectivity))

    # join ordering: most literal filters first, then shared-var connectivity
    frames.sort(key=lambda t: -t[2])
    cur, cur_cols, _ = frames[0]
    remaining = frames[1:]
    while remaining:
        pick = None
        for i, (f, cols, _sel) in enumerate(remaining):
            if cols & cur_cols:
                pick = i
                break
        if pick is None:
            pick = 0
        f, cols, _sel = remaining.pop(pick)
        shared = sorted(cols & cur_cols)
        if shared:
            cur = cur.join(f, on=shared, how="inner")
        else:
            cur = cur.crossJoin(f)
        cur_cols |= cols

    for pred in preds:
        cur = cur.filter(_compile_pred(ip, pred.call, subs, env, cur))

    keep_db_id = bool(q.options.get("keepDBid"))
    out_cols = [c for c in cur.columns
                if not c.startswith("__r")  # rule-internal fresh qvars
                and (keep_db_id or (c not in entity_vars
                                    and not c.startswith("__eid")))]
    result = cur.select(*sorted(out_cols)).distinct()  # datalog set semantics
    return SparkBindingSets(result)


def _entity_frame(ip, db: SparkDB, pats: list, subs) -> tuple[DataFrame, set, int]:
    """Build the frame for one entity variable: columns named by qvars."""
    df = db.df
    if any(attr_of(p.a, subs) is NEVER for p in pats):
        return df.limit(0).select(), set(), 0  # names no attribute: no match
    if _is_flat(df):
        return _entity_frame_direct(df, pats, subs)
    from .eav import shred_to_eav
    eav = shred_to_eav(df)
    return _entity_frame_eav(eav, pats, subs)


def _resolve_val(pat: A.TriplePattern, subs):
    if isinstance(pat.v, A.Lit):
        return pat.v.value
    if isinstance(pat.v, A.Var) and pat.v.name in subs:
        return subs[pat.v.name]
    return None


def _entity_frame_direct(df: DataFrame, pats: list, subs) -> tuple[DataFrame, set, int]:
    """Flat table: one row = one entity; attr = column. All patterns on the
    entity fold into a single select + filters -> a single pruned scan."""
    sel = []
    cols: set[str] = set()
    nfilters = 0
    alias_attr: dict[str, str] = {}  # qvar name -> first bound column
    for pat in pats:
        attr = attr_of(pat.a, subs)
        if attr is None:
            # attribute wildcard over flat table -> EAV melt of needed cols
            from .eav import melt_flat
            return _entity_frame_eav(melt_flat(df), pats, subs)
        if attr not in df.columns:
            # pattern can never match: empty frame
            empty = df.limit(0)
            return empty.select(), set(), 0
        if isinstance(pat.v, A.QVar):
            name = pat.v.name[1:]
            if name == "_":
                continue
            if name in alias_attr:
                # repeated value qvar => implied equality constraint
                # (query{[?e :a ?x] [?e :b ?x]} keeps only rows with a = b)
                df = df.filter(F.col(attr) == F.col(alias_attr[name]))
                nfilters += 1
            else:
                sel.append(F.col(attr).alias(name))
                alias_attr[name] = attr
                cols.add(name)
        else:
            want = _resolve_val(pat, subs)
            df = df.filter(F.col(attr) == F.lit(want))
            nfilters += 1
    out = df.select(*sel) if sel else df.select()
    return out, cols, nfilters


def _eav_binding_col(eav: DataFrame, attr):
    """Column expression for a value binding, with NATIVE type when the
    attribute's type is known from the source schema (eav.rm_attr_types,
    attached by melt_flat/shred_to_eav); string coalesce only for
    attribute wildcards / unknown attrs (reference keeps typed values in
    binding sets — stringifying '1.0'/'true' diverges)."""
    types = getattr(eav, "rm_attr_types", None) or {}
    t = types.get(attr) if attr is not None else None
    if t == "boolean":
        return F.col("val.b")
    if t in ("bigint", "int", "smallint", "tinyint"):
        return F.col("val.n").cast("bigint")
    if t in ("double", "float"):
        return F.col("val.n")
    if t == "ref":
        return F.col("val.ref")
    if t is not None and t.startswith("string"):
        return F.col("val.s")
    return F.coalesce(
        F.col("val.s"), F.col("val.n").cast("string"),
        F.col("val.b").cast("string"), F.col("val.ref").cast("string"))


def _entity_frame_eav(eav: DataFrame, pats: list, subs) -> tuple[DataFrame, set, int]:
    """EAV source: per-pattern filtered frames joined on the entity id."""
    cur = None
    cols: set[str] = set()
    nfilters = 0
    ent_col = "__eid"
    eq_pairs: list[tuple[str, str]] = []
    for i, pat in enumerate(pats):
        f = eav
        attr = attr_of(pat.a, subs)
        if attr is not None:
            f = f.filter(F.col("attr") == F.lit(attr))
            nfilters += 1
        proj = [F.col("eid").alias(ent_col)]
        if attr is None and isinstance(pat.a, A.QVar) and pat.a.name[1:] != "_":
            proj.append(F.col("attr").alias(pat.a.name[1:]))
            cols.add(pat.a.name[1:])
        if isinstance(pat.v, A.QVar):
            name = pat.v.name[1:]
            if name != "_":
                vcol = _eav_binding_col(eav, attr)
                if name in cols:
                    # repeated value qvar on the same entity: bind a temp
                    # column and keep only rows where both attrs agree
                    tmp = f"__eq{i}_{name}"
                    proj.append(vcol.alias(tmp))
                    eq_pairs.append((name, tmp))
                else:
                    proj.append(vcol.alias(name))
                    cols.add(name)
        else:
            want = _resolve_val(pat, subs)
            if isinstance(want, bool):
                f = f.filter(F.col("val.b") == F.lit(want))
            elif isinstance(want, (int, float)):
                f = f.filter(F.col("val.n") == F.lit(float(want)))
            else:
                f = f.filter(F.col("val.s") == F.lit(str(want)))
            nfilters += 1
        f = f.select(*proj)
        cur = f if cur is None else cur.join(f, on=ent_col, how="inner")
    for name, tmp in eq_pairs:
        cur = cur.filter(F.col(name) == F.col(tmp)).drop(tmp)
        nfilters += 1
    if isinstance(pats[0].e, A.QVar):
        cur = cur.withColumnRenamed(ent_col, pats[0].e.name[1:])
        cols.add(pats[0].e.name[1:])
    return cur, cols, nfilters


def _compile_pred(ip, call: A.Call, subs, env, frame: DataFrame):
    """Compile a predicate pattern to a Column filter: $match/$contains get
    direct regex forms; ANY other column-compilable builtin goes through
    the ColumnCompiler against the joined frame's schema (reference allows
    arbitrary predicates in :where, rewrite.cljc:269-287)."""
    fn_name = call.fn.name if isinstance(call.fn, A.Var) else None
    args = call.args

    def col_of(node):
        if isinstance(node, A.QVar):
            return F.col(node.name[1:])
        if isinstance(node, A.Lit):
            return F.lit(node.value)
        if isinstance(node, A.Var) and node.name in subs:
            return F.lit(subs[node.name])
        if isinstance(node, A.RegexLit):
            return F.lit(node.pattern)
        raise ValueError(f"unsupported predicate arg {node}")

    simple = all(isinstance(x, (A.QVar, A.Lit, A.Var, A.RegexLit)) for x in args)
    if fn_name == "$match" and simple:
        return col_of(args[0]).rlike(args[1].pattern if isinstance(args[1], A.RegexLit)
                                     else str(args[1].value))
    if fn_name == "$contains" and simple:
        if isinstance(args[1], A.RegexLit):
            return col_of(args[0]).rlike(args[1].pattern)
        return col_of(args[0]).contains(col_of(args[1]))
    # any other builtin: rewrite qvars to column refs and hand the call to
    # the Column compiler (the reference allows arbitrary predicates in
    # :where via :in substitution, rewrite.cljc:269-287)
    from ..lang.columns import ColumnCompiler
    node = _subst_qvars(call, subs)
    cc = ColumnCompiler(frame.schema)
    return cc.compile(node).col.cast("boolean")


def _subst_qvars(node, subs):
    """Rewrite ?qvar -> FieldRef(column) and $param-in-subs -> Lit for
    compiling predicate patterns against the joined binding-set frame."""
    import dataclasses
    if isinstance(node, A.QVar):
        return A.FieldRef(node.name[1:])
    if isinstance(node, A.Var) and node.name in subs:
        return A.Lit(subs[node.name])
    if dataclasses.is_dataclass(node) and isinstance(node, A.Node):
        kwargs = {}
        for f in dataclasses.fields(node):
            v = getattr(node, f.name)
            if isinstance(v, A.Node):
                kwargs[f.name] = _subst_qvars(v, subs)
            elif isinstance(v, list):
                kwargs[f.name] = [
                    _subst_qvars(x, subs) if isinstance(x, A.Node)
                    else tuple(_subst_qvars(y, subs) if isinstance(y, A.Node) else y
                               for y in x) if isinstance(x, tuple) else x
                    for x in v]
            else:
                kwargs[f.name] = v
        return type(node)(**kwargs)
    return node
