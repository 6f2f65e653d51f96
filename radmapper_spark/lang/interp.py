"""Tree-walking evaluator for RM programs (driver side).

This is the *driver-level* half of the engine: program control flow, variable
bindings, closures, and document-at-a-time semantics over in-memory data run
here; anything bound to a Spark DataFrame (``$db`` over parquet, ``query{}``
over tables, ``$reduce`` of an express body over a binding-set DataFrame)
produces *lazy DataFrame plans* executed by Spark (see operators/).

Semantics follow the reference evaluator (reference: builtin.cljc:174-283
run-steps/get-step/filter-step/aref; builtin_macros.cljc jflatten) —
re-implemented from observed behavior, not translated.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from typing import Any, Optional

from ..session import scope
from . import ast as A
from .parser import parse
from .values import (
    JSeq, NOMATCH, as_array, containerize, deep_eq, finalize, is_nomatch,
    jflatten, truthy,
)


class RMError(ValueError):
    pass


#: the language's integral type is the 64-bit long (r15 verdict item
#: #6 — previously "documented boundary", now DEFINED): the column
#: compiler runs integral arithmetic in LONG under Spark ANSI (raises
#: ARITHMETIC_OVERFLOW past 2^63) and the reference runs on JVM checked
#: longs (clojure.core/* etc. throw ArithmeticException), so the driver
#: evaluator RAISES instead of silently continuing in Python bignums —
#: all three engines refuse the same programs.
I64_MIN = -(2 ** 63)
I64_MAX = 2 ** 63 - 1


def check_i64(res, what: str):
    """Raise RMError if an INTEGRAL result left the int64 domain
    (floats pass through untouched — the double path is IEEE in every
    engine). Returns res for expression-style use."""
    if isinstance(res, int) and not isinstance(res, bool) \
            and not (I64_MIN <= res <= I64_MAX):
        raise RMError(
            f"integer overflow: {what} = {res} exceeds the 64-bit "
            f"integer domain (Spark ANSI raises ARITHMETIC_OVERFLOW "
            f"here; the reference's JVM checked longs throw the same)")
    return res


# ---------------------------------------------------------------- values

@dataclass
class Closure:
    params: list
    body: A.Node
    env: "Env"


@dataclass
class RMRegex:
    pattern: str
    flags: str

    def compiled(self):
        f = 0
        if "i" in self.flags:
            f |= re.IGNORECASE
        if "m" in self.flags:
            f |= re.MULTILINE
        if "s" in self.flags:
            f |= re.DOTALL
        return re.compile(self.pattern, f)


@dataclass
class QueryFnV:
    """query{} value. Callable with data/db args -> binding sets."""
    params: list
    patterns: list
    options: dict
    env: "Env"
    param_subs: Optional[dict] = None


@dataclass
class ExpressFnV:
    """express{} value. Callable with one binding set -> document."""
    params: list
    body: A.Node
    options: dict
    env: "Env"
    param_subs: Optional[dict] = None


@dataclass
class RuleV:
    """rule{} value: a named, reusable clause group. Callable with DB args
    -> binding sets projected to the rule-head qvars; also spliced into
    query{} patterns via [(name ?x)] (see query_local.expand_rule_calls)."""
    name: str
    args: list
    clauses: list
    env: "Env"


class Env:
    __slots__ = ("vars", "parent")

    def __init__(self, vars=None, parent: Optional["Env"] = None):
        self.vars = vars or {}
        self.parent = parent

    def lookup(self, name: str):
        e = self
        while e is not None:
            if name in e.vars:
                return e.vars[name]
            e = e.parent
        raise RMError(f"unbound variable {name}")

    def has(self, name: str) -> bool:
        e = self
        while e is not None:
            if name in e.vars:
                return True
            e = e.parent
        return False

    def define(self, name: str, val) -> None:
        self.vars[name] = val

    def child(self, vars=None) -> "Env":
        return Env(vars or {}, self)


class Interp:
    def __init__(self, spark=None):
        self.spark = spark
        import time
        self.now_millis = int(time.time() * 1000)  # frozen per evaluation

    # ------------------------------------------------------------ entry
    def run(self, src: str, bindings: Optional[dict] = None, data=None):
        """Evaluate and materialize. Frames the program persists live in
        a scope released once the result is forced (a table result
        stays a lazy SparkDB and recomputes from lineage)."""
        node = parse(src)
        env = Env({"$": data if data is not None else NOMATCH, "$$": data if data is not None else NOMATCH})
        if bindings:
            for k, v in bindings.items():
                env.define(k if k.startswith("$") else f"${k}", v)
        with scope():
            return finalize(self._force(self.eval(node, env)))

    def run_raw(self, src: str, bindings: Optional[dict] = None, data=None):
        """Like run(), but returns lazy Spark values (SparkBindingSets /
        DataFrame) unmaterialized — for embedding in larger Spark plans."""
        node = parse(src)
        env = Env({"$": data if data is not None else NOMATCH,
                   "$$": data if data is not None else NOMATCH})
        if bindings:
            for k, v in bindings.items():
                env.define(k if k.startswith("$") else f"${k}", v)
        return self.eval(node, env)

    def _force(self, v):
        """Materialize lazy Spark values at the program boundary."""
        from ..operators.spark_bridge import force_value
        return force_value(self, v)

    # ------------------------------------------------------------ dispatch
    def eval(self, node: A.Node, env: Env):
        m = getattr(self, "_eval_" + type(node).__name__, None)
        if m is None:
            raise RMError(f"no eval rule for {type(node).__name__}")
        return m(node, env)

    def ctx(self, env: Env):
        return env.lookup("$")

    # ------------------------------------------------------------ atoms
    def _eval_Lit(self, n: A.Lit, env: Env):
        # integer literals live in the language's int64 domain too —
        # the column compiler's F.lit refuses a Python int past 2^63,
        # so the driver refuses the same program (floats untouched)
        return check_i64(n.value, "integer literal")

    def _eval_RegexLit(self, n: A.RegexLit, env: Env):
        return RMRegex(n.pattern, n.flags)

    def _eval_Var(self, n: A.Var, env: Env):
        if n.name == "$":
            # reading $ containerizes a vector (reference builtin_macros.cljc
            # deref$): [[1,2,3], 4].$ flattens to [1,2,3,4]
            v = self.ctx(env)
            if isinstance(v, list) and not isinstance(v, JSeq):
                return JSeq(v)
            return v
        if n.name == "$$":
            v = env.lookup("$$")
            if isinstance(v, list) and not isinstance(v, JSeq):
                return JSeq(v)
            return v
        if env.has(n.name):
            return env.lookup(n.name)
        from ..functions.builtins import REGISTRY
        if n.name in REGISTRY:
            return REGISTRY[n.name]
        raise RMError(f"unbound variable {n.name}")

    def _eval_QVar(self, n: A.QVar, env: Env):
        key = n.name[1:]
        if env.has("?" + key):
            return env.lookup("?" + key)
        # inside a filter over binding sets, ?x reads the bset field
        # (reference match-test: $spc[?parent = $p])
        ctx = self.ctx(env)
        if isinstance(ctx, dict) and key in ctx:
            return ctx[key]
        raise RMError(f"unbound query variable {n.name}")

    def _eval_FieldRef(self, n: A.FieldRef, env: Env):
        return self._get_field(self.ctx(env), n.name)

    # ------------------------------------------------------------ composites
    def _eval_ArrayLit(self, n: A.ArrayLit, env: Env):
        out = []
        for item in n.items:
            v = self.eval(item, env)
            if is_nomatch(v):
                continue
            if isinstance(v, JSeq):
                out.extend(as_array(v))
            else:
                out.append(v)
        return out

    def _eval_ObjLit(self, n: A.ObjLit, env: Env):
        out = {}
        for k_node, v_node in n.pairs:
            if isinstance(k_node, A.QVar):
                # binding-set literal {?x : v}: the key is the qvar's name
                # (stripped of '?', matching DataFrame column naming)
                k = k_node.name[1:]
            else:
                k = jflatten(self.eval(k_node, env))
            if is_nomatch(k):
                continue
            v = jflatten(self.eval(v_node, env))
            if is_nomatch(v):
                continue
            if isinstance(v, JSeq):
                v = list(v)
            out[k] = v
        return out

    def _eval_Block(self, n: A.Block, env: Env):
        child = env.child()
        out = NOMATCH
        for e in n.exprs:
            out = self.eval(e, child)
        return out

    def _eval_Assign(self, n: A.Assign, env: Env):
        v = self.eval(n.expr, env)
        if n.name == "$":
            env.define("$", v)
            env.define("$$", v)
        else:
            env.define(n.name, v)
        return v

    def _eval_FunDef(self, n: A.FunDef, env: Env):
        return Closure(n.params, n.body, env)

    def _eval_QueryDef(self, n: A.QueryDef, env: Env):
        patterns = n.patterns
        if any(isinstance(p, A.PatternSplice) for p in patterns):
            expanded = []
            for p in patterns:
                if not isinstance(p, A.PatternSplice):
                    expanded.append(p)
                    continue
                v = self.eval(p.expr, env)
                if isinstance(v, QueryFnV):
                    expanded.extend(v.patterns)  # query{$qIdent($data)}
                elif isinstance(v, (list, JSeq)) and all(
                        isinstance(x, A.Node) for x in v):
                    expanded.extend(v)
                else:
                    raise RMError(
                        "query{} splice must produce a query or patterns")
            patterns = expanded
        return QueryFnV(n.params, patterns, n.options, env)

    def _eval_RuleDef(self, n: A.RuleDef, env: Env):
        rv = RuleV(n.name, n.args, n.clauses, env)
        # register under the rule's own name so query{} bodies can invoke
        # it by [(name ?x)] without threading a $var
        env.vars[n.name] = rv
        return rv

    def _eval_ExpressDef(self, n: A.ExpressDef, env: Env):
        if isinstance(n.body, A.Call):
            # express{$eIdent($data)}: the call's VALUE supplies the
            # template (reference query_test.cljc:1056-1062 ident-code)
            v = self.eval(n.body, env)
            if isinstance(v, ExpressFnV):
                return ExpressFnV(n.params or v.params, v.body,
                                  {**v.options, **n.options}, env)
        return ExpressFnV(n.params, n.body, n.options, env)

    def _eval_KeyCall(self, n: A.KeyCall, env: Env):
        # outside an express template, key(x) is just x
        return self.eval(n.expr, env)

    def _eval_Cond(self, n: A.Cond, env: Env):
        if truthy(self.eval(n.test, env)):
            return self.eval(n.then, env)
        if n.other is None:
            return NOMATCH
        return self.eval(n.other, env)

    def _eval_UnOp(self, n: A.UnOp, env: Env):
        v = jflatten(self.eval(n.expr, env))
        if n.op == "-":
            if is_nomatch(v):
                return NOMATCH
            if not isinstance(v, (int, float)) or isinstance(v, bool):
                raise RMError("cannot negate a non-number")
            return check_i64(-v, f"-({v})")
        raise RMError(f"unknown unary op {n.op}")

    # ------------------------------------------------------------ calls
    def _eval_Call(self, n: A.Call, env: Env):
        fnv = self.eval(n.fn, env)
        args = [self.eval(a, env) for a in n.args]
        return self.call(fnv, args, env)

    def call(self, fnv, args: list, env: Env):
        from ..functions.builtins import BuiltinFn
        if isinstance(fnv, Closure):
            frame = {p: (args[i] if i < len(args) else NOMATCH) for i, p in enumerate(fnv.params)}
            return self.eval(fnv.body, fnv.env.child(frame))
        if isinstance(fnv, BuiltinFn):
            if fnv.ctx_default and len(args) == fnv.min_args - 1:
                args = [self.ctx(env)] + args
            return fnv.fn(self, env, *args)
        if isinstance(fnv, QueryFnV):
            return self._call_query(fnv, args, env)
        if isinstance(fnv, RuleV):
            # standalone rule application: run its clauses as a query and
            # project the binding sets to the head qvars (keepDBid: a head
            # var may BE an entity var — the projection must retain it)
            q = QueryFnV([], fnv.clauses, {"keepDBid": True}, fnv.env)
            bsets = self._call_query(q, args, env)
            keep = [a[1:] for a in fnv.args]
            from ..operators.spark_bridge import SparkBindingSets
            if isinstance(bsets, SparkBindingSets):
                return SparkBindingSets(bsets.df.select(*keep).distinct())
            return [{k: b[k] for k in keep if k in b} for b in bsets]
        if isinstance(fnv, ExpressFnV):
            return self._call_express(fnv, args, env)
        if isinstance(fnv, RMRegex):
            return self._regex_match_obj(fnv, args[0] if args else self.ctx(env))
        if callable(fnv):
            return fnv(*args)
        raise RMError(f"value is not callable: {fnv!r}")

    def _regex_match_obj(self, rx: RMRegex, s):
        s = jflatten(s)
        if not isinstance(s, str):
            return NOMATCH
        m = rx.compiled().search(s)
        if not m:
            return NOMATCH
        return {"match": m.group(0), "index": m.start(), "groups": list(m.groups())}

    # query / express invocation -------------------------------------
    def _call_query(self, q: QueryFnV, args: list, env: Env):
        from ..operators.query_local import run_query
        if q.params and q.param_subs is None:
            subs = {p: (args[i] if i < len(args) else NOMATCH) for i, p in enumerate(q.params)}
            return QueryFnV(q.params, q.patterns, q.options, q.env, subs)
        return run_query(self, q, args, env)

    def _call_express(self, e: ExpressFnV, args: list, env: Env):
        from ..operators.express_local import instantiate_body
        if e.params and e.param_subs is None:
            subs = {p: (args[i] if i < len(args) else NOMATCH) for i, p in enumerate(e.params)}
            return ExpressFnV(e.params, e.body, e.options, e.env, subs)
        # called with one binding set -> instantiate the template
        bset = args[0] if args else {}
        return instantiate_body(self, e, bset, keyed=False)

    # ------------------------------------------------------------ binary ops
    def _eval_BinOp(self, n: A.BinOp, env: Env):
        op = n.op
        if op == "and":
            # value semantics as in the reference (Clojure and/or): the
            # deciding operand's VALUE is returned, enabling
            # `$lookup(...) or '<default>'` (builtin_test.cljc match-test)
            l = self.eval(n.left, env)
            return self.eval(n.right, env) if truthy(l) else l
        if op == "or":
            l = self.eval(n.left, env)
            return l if truthy(l) else self.eval(n.right, env)
        if op == "~>":
            return self._eval_thread(n, env)
        l = jflatten(self.eval(n.left, env))
        r = jflatten(self.eval(n.right, env))
        if op in ("+", "-", "*", "/", "%"):
            return self._arith(op, l, r)
        if op == "&":
            from ..functions.builtins import to_string
            if is_nomatch(l):
                l = ""
            if is_nomatch(r):
                r = ""
            return to_string(l) + to_string(r)
        if op == "=":
            if is_nomatch(l) or is_nomatch(r):
                return False
            return deep_eq(l, r)
        if op == "!=":
            if is_nomatch(l) or is_nomatch(r):
                return True
            return not deep_eq(l, r)
        if op in ("<", "<=", ">", ">="):
            if is_nomatch(l) or is_nomatch(r):
                return NOMATCH
            if isinstance(l, bool) or isinstance(r, bool):
                raise RMError("cannot compare booleans with < >")
            if not (isinstance(l, (int, float, str)) and isinstance(r, (int, float, str))):
                raise RMError(f"cannot compare {type(l).__name__} and {type(r).__name__}")
            if isinstance(l, str) != isinstance(r, str):
                raise RMError("cannot compare string with number")
            return {"<": l < r, "<=": l <= r, ">": l > r, ">=": l >= r}[op]
        if op == "in":
            if is_nomatch(l) or is_nomatch(r):
                return False
            return any(deep_eq(l, x) for x in as_array(r))
        if op == "..":
            if not (isinstance(l, int) and isinstance(r, int)) or isinstance(l, bool) or isinstance(r, bool):
                raise RMError("range endpoints must be integers")
            if l > r:
                return JSeq()
            return JSeq(range(l, r + 1))
        raise RMError(f"unknown operator {op}")

    def _arith(self, op: str, l, r):
        if is_nomatch(l) or is_nomatch(r):
            return NOMATCH
        if not isinstance(l, (int, float)) or not isinstance(r, (int, float)) \
                or isinstance(l, bool) or isinstance(r, bool):
            raise RMError(f"arithmetic {op} needs numbers, got {l!r}, {r!r}")
        if op == "+":
            return check_i64(l + r, f"{l} + {r}")
        if op == "-":
            return check_i64(l - r, f"{l} - {r}")
        if op == "*":
            return check_i64(l * r, f"{l} * {r}")
        if op == "/":
            return l / r  # always double (reference builtin.cljc:144-147)
        if op == "%":
            if isinstance(l, int) and isinstance(r, int):
                if r == 0:
                    raise RMError("modulo by zero")
                # EXACT truncated remainder (sign of dividend, the JS /
                # Spark semantics). Previously int(math.fmod(l, r)) —
                # fmod converts through double, so near-2^63 operands
                # lost low bits and silently forked from Spark's exact
                # long % (found by the r16 boundary-literal fuzz).
                m = abs(l) % abs(r)
                return -m if l < 0 else m
            if r == 0:
                # Spark ANSI raises REMAINDER_BY_ZERO for DOUBLE %0
                # too (verified empirically) — one refusal message for
                # both numeric paths instead of fmod's bare ValueError
                raise RMError("modulo by zero")
            return math.fmod(l, r)  # JS-style: sign of dividend
        raise RMError(op)

    def _eval_thread(self, n: A.BinOp, env: Env):
        val = self.eval(n.left, env)
        rhs = n.right
        if isinstance(rhs, A.Call):
            fnv = self.eval(rhs.fn, env)
            args = [self.eval(a, env) for a in rhs.args]
            return self.call(fnv, [val] + args, env)
        fnv = self.eval(rhs, env)
        return self.call(fnv, [val], env)

    # ------------------------------------------------------------ paths
    def _eval_Path(self, n: A.Path, env: Env):
        head = n.steps[0]
        val = self.eval(head.expr, env)
        # NB: an explicit array literal head stays a plain list (json-array);
        # [1,2,3][0] indexes the whole array, not each element.
        for f in head.filters:
            val = self._filter_step(val, f, env)
        for step in n.steps[1:]:
            val = self._run_step(step, val, env)
            if is_nomatch(val):
                return NOMATCH
        return val

    def _get_field(self, obj, name: str):
        """Plain get-step semantics (reference builtin.cljc:245-263):
        map -> value; sequence -> per-element get with one-level array
        splice; otherwise no match."""
        from ..operators.spark_bridge import SparkBindingSets, SparkDB
        if isinstance(obj, SparkBindingSets):
            # stay lazy: project the qvar column in Spark
            if name in obj.df.columns:
                return obj.project(name)
            return NOMATCH
        if isinstance(obj, SparkDB):
            # get-step on a Spark table = lazy column projection (the
            # sequence-of-values semantics of .field over a table); the
            # scan prunes to the one column. Previously NOMATCH (silent).
            if name in obj.df.columns:
                return SparkBindingSets(obj.df.select(name))
            return NOMATCH
        obj = jflatten(obj)
        if is_nomatch(obj):
            return NOMATCH
        if isinstance(obj, dict):
            return obj[name] if name in obj else NOMATCH
        if isinstance(obj, (JSeq, list)):
            out = JSeq()
            for e in containerize(obj):
                if isinstance(e, dict) and name in e:
                    v = e[name]
                    if isinstance(v, list):
                        out.extend(v)
                    else:
                        out.append(v)
            return out
        return NOMATCH

    def _run_step(self, step: A.PathStep, res, env: Env):
        if step.kind == "get" and isinstance(step.expr, A.FieldRef):
            name = step.expr.name
            if step.filters:
                # non-compositional a.b[f]: get per element WITHOUT splicing,
                # then filter/index per element (reference :bi/get-filter).
                val = self._get_filter(res, name, step.filters[0], env)
                for f in step.filters[1:]:
                    val = self._filter_step(val, f, env)
                return val
            return self._get_field(res, name)
        # map-like steps: evaluate expr with each element as context
        if step.kind == "value":
            items = containerize(res)
            if isinstance(res, (JSeq, list)):
                out = [self._eval_with_ctx(step.expr, e, env) for e in items]
                out = [x for x in out if not is_nomatch(x)]
            else:
                out = self._eval_with_ctx(step.expr, res, env)
        elif step.kind == "reduce":
            out = self._reduce_step(step.expr, res, env)
        else:  # map / get over computed expr
            from ..operators.spark_bridge import SparkBindingSets, SparkDB
            if isinstance(res, SparkDB):
                # map-step over a Spark table: compile the expression to a
                # Column (per-row, JVM-side) — the Spark twin of the
                # driver row loop below.
                from .columns import ColumnCompileError, ColumnCompiler
                try:
                    cv = ColumnCompiler(res.df.schema).compile(step.expr)
                except ColumnCompileError as e:
                    raise RMError(
                        "a .(expr) map-step on a Spark table must be "
                        f"column-compilable ({e})") from e
                out = SparkBindingSets(res.df.select(cv.col.alias("value")))
            elif isinstance(res, (JSeq, list)):
                out = JSeq()
                for e in containerize(res):
                    v = self._eval_with_ctx(step.expr, e, env)
                    if not is_nomatch(v):
                        out.append(v)
            else:
                out = self._eval_with_ctx(step.expr, res, env)
        for f in step.filters:
            out = self._filter_step(out, f, env)
        return out

    def _eval_with_ctx(self, node: A.Node, ctx_val, env: Env):
        return self.eval(node, env.child({"$": ctx_val}))

    def _get_filter(self, res, name: str, filt: A.Node, env: Env):
        # gather per-element values without splicing arrays
        if isinstance(res, (JSeq, list)):
            ob = JSeq()
            for e in containerize(res):
                if isinstance(e, dict) and name in e:
                    ob.append(e[name])
        elif isinstance(res, dict):
            ob = res[name] if name in res else NOMATCH
        else:
            ob = NOMATCH
        if is_nomatch(ob):
            return NOMATCH
        ix = self._try_index(filt, res, env)
        if ix is not None:
            if isinstance(ob, JSeq):
                out = JSeq()
                for v in ob:
                    got = _aref(v, ix)
                    if not is_nomatch(got):
                        out.append(got)
                return jflatten(out)
            return _aref(ob, ix)
        # predicate: only INDEX filters are non-compositional (per-parent);
        # predicates test each item, so splice array values first
        if isinstance(ob, JSeq):
            spliced = JSeq()
            for v in ob:
                if isinstance(v, list) and not isinstance(v, JSeq):
                    spliced.extend(v)
                else:
                    spliced.append(v)
            ob = spliced
        return self._pred_filter(ob, filt, env)

    def _filter_step(self, res, filt: A.Node, env: Env):
        """Stand-alone [..] filter (reference builtin.cljc:213-243).

        Extension: a filter on a Spark-backed table ($db over a
        DataFrame) compiles the predicate through the Column compiler and
        stays a lazy DataFrame filter — Catalyst pushes it into the scan.
        (Previously this fell through to the driver-side row loop, which
        silently produced [] for SparkDB values.)"""
        if is_nomatch(res):
            return NOMATCH
        from ..operators.spark_bridge import SparkDB
        if isinstance(res, SparkDB):
            from .columns import ColumnCompileError, ColumnCompiler
            from pyspark.sql import types as T
            try:
                cv = ColumnCompiler(res.df.schema).compile(filt)
            except ColumnCompileError as e:
                raise RMError(
                    "a [filter] on a Spark table must be column-compilable "
                    f"({e}); use query{{}} for general patterns") from e
            if cv.dtype is not None and not isinstance(cv.dtype, T.BooleanType):
                raise RMError("positional [index] on a Spark table is not "
                              "supported; filter with a predicate or use "
                              "query{}")
            return SparkDB(res.df.filter(cv.col.cast("boolean")), res.name)
        ix = self._try_index(filt, res, env)
        if ix is not None:
            if isinstance(res, JSeq):
                out = JSeq()
                for v in res:
                    got = _aref(v, ix)
                    if not is_nomatch(got):
                        out.append(got)
                return jflatten(out)
            return _aref(res, ix)
        return self._pred_filter(res, filt, env)

    def _pred_filter(self, res, filt: A.Node, env: Env):
        out = JSeq()
        for e in as_array(res):
            v = self._eval_with_ctx(filt, e, env)
            if isinstance(v, RMRegex):
                ok = isinstance(e, str) and v.compiled().search(e) is not None
            else:
                ok = truthy(v)
            if ok:
                out.append(e)
        return out

    def _try_index(self, filt: A.Node, res, env: Env) -> Optional[int]:
        """If the bracket expression evaluates (with the whole result as
        context) to a number, it is an array index (floored)."""
        try:
            v = jflatten(self._eval_with_ctx(filt, res, env))
        except Exception:
            return None
        if isinstance(v, bool):
            return None
        if isinstance(v, (int, float)):
            return int(math.floor(v))
        return None

    def _reduce_step(self, obj: A.ObjLit, res, env: Env):
        """Grouping object constructor a{k: v}: group elements by key value,
        evaluate the value expression with the group sequence as context."""
        items = containerize(res)
        out: dict = {}
        for k_node, v_node in obj.pairs:
            groups: dict = {}
            order: list = []
            for e in items:
                kv = jflatten(self._eval_with_ctx(k_node, e, env))
                if is_nomatch(kv):
                    continue
                if isinstance(kv, JSeq):
                    kv = list(kv)
                if not isinstance(kv, str):
                    kv = _hashable(kv)
                if kv not in groups:
                    groups[kv] = JSeq()
                    order.append(kv)
                groups[kv].append(e)
            for kv in order:
                v = jflatten(self._eval_with_ctx(v_node, groups[kv], env))
                if is_nomatch(v):
                    continue
                if isinstance(v, JSeq):
                    v = list(v)
                out[kv] = v
        return out


def _hashable(v):
    if isinstance(v, list):
        return tuple(_hashable(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _hashable(x)) for k, x in v.items()))
    return v


def _aref(obj, ix: int):
    """Array indexing with negative-from-end and singleton rules
    (reference builtin.cljc:273-283 `aref`)."""
    arr = obj if isinstance(obj, list) else [obj]
    n = len(arr)
    i = ix + n if ix < 0 else ix
    if i < 0 or i >= n:
        return NOMATCH
    return arr[i]


def run(src: str, bindings: Optional[dict] = None, data=None, spark=None):
    """Public entry: evaluate an RM program, return a plain Python value."""
    return Interp(spark).run(src, bindings, data)
