"""RM builtin function library (~80 functions).

Semantics follow docs.jsonata.org plus the reference's RM extensions
(reference: builtin.cljc:323-1524 scalar/HOF battery, :2230-2326 object
extensions). Signatures with an optional missing first argument default it
to the context `$` (reference builtin_macros.cljc:174-205 `defn*`).

Every function here is also the semantic spec for the Column-level twin in
functions/columns.py used when the same program runs over a DataFrame.
"""

from __future__ import annotations

import base64
import json
import math
import random as _random
import re
import urllib.parse
from dataclasses import dataclass
from typing import Any, Callable

from ..lang.values import (
    JSeq, NOMATCH, as_array, containerize, deep_eq, is_nomatch, jflatten,
    truthy,
)


class RMFnError(ValueError):
    pass


@dataclass
class BuiltinFn:
    name: str
    fn: Callable
    min_args: int
    ctx_default: bool


REGISTRY: dict[str, BuiltinFn] = {}


def builtin(name: str, min_args: int = 1, ctx_default: bool = False):
    def deco(f):
        REGISTRY[name] = BuiltinFn(name, f, min_args, ctx_default)
        return f
    return deco


def _s(v, who: str) -> str:
    v = jflatten(v)
    if not isinstance(v, str):
        raise RMFnError(f"{who} expects a string, got {v!r}")
    return v


def _n(v, who: str):
    v = jflatten(v)
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise RMFnError(f"{who} expects a number, got {v!r}")
    return v


def _rx(pat, who: str):
    from ..lang.interp import RMRegex
    if isinstance(pat, RMRegex):
        return pat.compiled()
    if isinstance(pat, str):
        return None
    raise RMFnError(f"{who} expects string or regex pattern")


def to_string(v) -> str:
    """$string semantics: JSON for structures, 'true'/'false', integral
    floats render without the decimal point."""
    v = jflatten(v)
    if is_nomatch(v):
        return ""
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isinf(v) or math.isnan(v):
            raise RMFnError("cannot stringify non-finite number")
        if v.is_integer():
            if abs(v) < 1e16:
                return str(int(v))
            # SHORTEST-ROUNDTRIP digits expanded positionally, like JS
            # (the JSONata reference rendering) and the column twin's
            # DECIMAL cast of Java's toString: str(int(v)) prints the
            # EXACT binary expansion instead (2^63 -> ...775808 where
            # shortest is ...776000) — r16 boundary-fuzz fork. Below
            # 1e16 every integral double's digits are exact anyway.
            mant, _, exp = repr(v).partition("e+")
            if not exp:
                return str(int(v))
            neg = mant.startswith("-")
            digits = mant.lstrip("-").replace(".", "")
            out = digits + "0" * (int(exp) + 1 - len(digits))
            return ("-" if neg else "") + out
        return repr(v)
    if isinstance(v, int):
        return str(v)
    if v is None:
        return "null"
    if isinstance(v, (list, JSeq)):
        return json.dumps(_jsonable(v), separators=(",", ":"))
    if isinstance(v, dict):
        return json.dumps(_jsonable(v), separators=(",", ":"))
    return str(v)


def _jsonable(v):
    v = jflatten(v)
    if is_nomatch(v):
        return None
    if isinstance(v, (JSeq, list)):
        return [_jsonable(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _jsonable(x) for k, x in v.items()}
    if isinstance(v, float) and v.is_integer():
        return int(v)
    return v


# =================================================================== string

@builtin("$string", 1, ctx_default=True)
def _string(ip, env, v=NOMATCH):
    if is_nomatch(jflatten(v)):
        return NOMATCH
    return to_string(v)


@builtin("$length", 1, ctx_default=True)
def _length(ip, env, s=NOMATCH):
    return len(_s(s, "$length"))


@builtin("$lowercase", 1, ctx_default=True)
def _lowercase(ip, env, s=NOMATCH):
    return _s(s, "$lowercase").lower()


@builtin("$uppercase", 1, ctx_default=True)
def _uppercase(ip, env, s=NOMATCH):
    return _s(s, "$uppercase").upper()


@builtin("$trim", 1, ctx_default=True)
def _trim(ip, env, s=NOMATCH):
    # collapses internal whitespace too (reference builtin.cljc:688-697)
    return re.sub(r"\s+", " ", _s(s, "$trim")).strip()


@builtin("$contains", 2, ctx_default=True)
def _contains(ip, env, s=NOMATCH, pat=None):
    s = _s(s, "$contains")
    rx = _rx(pat, "$contains")
    if rx is not None:
        return rx.search(s) is not None
    return pat in s


@builtin("$substring", 2, ctx_default=True)
def _substring(ip, env, s=NOMATCH, start=0, length=None):
    s = _s(s, "$substring")
    start = int(_n(start, "$substring"))
    if start < 0:
        start = max(0, len(s) + start)
    if length is None:
        return s[start:]
    length = int(_n(length, "$substring"))
    return s[start:start + max(0, length)]


@builtin("$substringBefore", 2, ctx_default=True)
def _substring_before(ip, env, s=NOMATCH, sep=""):
    s = _s(s, "$substringBefore")
    sep = _s(sep, "$substringBefore")
    i = s.find(sep)
    return s if i < 0 else s[:i]


@builtin("$substringAfter", 2, ctx_default=True)
def _substring_after(ip, env, s=NOMATCH, sep=""):
    s = _s(s, "$substringAfter")
    sep = _s(sep, "$substringAfter")
    i = s.find(sep)
    return s if i < 0 else s[i + len(sep):]


@builtin("$split", 2, ctx_default=True)
def _split(ip, env, s=NOMATCH, sep=None, limit=None):
    s = _s(s, "$split")
    rx = _rx(sep, "$split")
    parts = rx.split(s) if rx is not None else (s.split(sep) if sep != "" else list(s))
    if limit is not None:
        parts = parts[: int(_n(limit, "$split"))]
    return list(parts)


@builtin("$join", 1, ctx_default=True)
def _join(ip, env, arr=NOMATCH, sep=""):
    items = [_s(x, "$join") for x in as_array(arr)]
    return _s(sep, "$join").join(items) if sep != "" else "".join(items)


@builtin("$pad", 2, ctx_default=True)
def _pad(ip, env, s=NOMATCH, width=0, char=" "):
    s = _s(s, "$pad")
    width = int(_n(width, "$pad"))
    char = _s(char, "$pad") or " "
    if width >= 0:
        while len(s) < width:
            s = s + char
        return s[: max(len(s), width)] if len(s) >= width else s
    w = -width
    while len(s) < w:
        s = char + s
    return s


@builtin("$match", 2, ctx_default=True)
def _match(ip, env, s=NOMATCH, pat=None, limit=None):
    """Returns {match,index,groups} objects (reference builtin.cljc:448-488)."""
    s = jflatten(s)
    if is_nomatch(s):
        return NOMATCH
    s = _s(s, "$match")
    rx = _rx(pat, "$match")
    if rx is None:
        rx = re.compile(re.escape(pat))
    out = JSeq()
    for i, m in enumerate(rx.finditer(s)):
        if limit is not None and i >= int(limit):
            break
        out.append({"match": m.group(0), "index": m.start(), "groups": list(g for g in m.groups())})
    return out


@builtin("$replace", 3, ctx_default=True)
def _replace(ip, env, s=NOMATCH, pat=None, repl=None, limit=None):
    s = _s(s, "$replace")
    count = int(limit) if limit is not None else 0
    rx = _rx(pat, "$replace")
    if rx is None:
        if pat == "":
            raise RMFnError("$replace pattern cannot be empty")
        n = count if count else -1
        return s.replace(pat, repl, n) if isinstance(repl, str) else s
    if isinstance(repl, str):
        # JSONata template: $N = group ref, $$ = literal dollar; translate
        # token-wise so the '$' produced by '$$' can't fuse with a digit
        def _tr(m):
            tok = m.group(0)
            if tok == "$$":
                return "$"
            if tok.startswith("$"):
                return "\\" + tok[1:]
            return tok.replace("\\", "\\\\")
        py_repl = re.sub(r"\$\$|\$\d+|[^$\\]+|.", _tr, repl, flags=re.S)
        return rx.sub(py_repl, s, count=count)
    # function replacement: called with the match object
    def do(m):
        obj = {"match": m.group(0), "index": m.start(), "groups": list(m.groups())}
        r = ip.call(repl, [obj], env)
        r = jflatten(r)
        if not isinstance(r, str):
            raise RMFnError("$replace function must return a string")
        return r
    return rx.sub(do, s, count=count)


@builtin("$base64encode", 1, ctx_default=True)
def _b64e(ip, env, s=NOMATCH):
    return base64.b64encode(_s(s, "$base64encode").encode()).decode()


@builtin("$base64decode", 1, ctx_default=True)
def _b64d(ip, env, s=NOMATCH):
    return base64.b64decode(_s(s, "$base64decode").encode()).decode()


@builtin("$encodeUrlComponent", 1, ctx_default=True)
def _enc_url_c(ip, env, s=NOMATCH):
    return urllib.parse.quote(_s(s, "$encodeUrlComponent"), safe="-_.!~*'()")


@builtin("$encodeUrl", 1, ctx_default=True)
def _enc_url(ip, env, s=NOMATCH):
    return urllib.parse.quote(_s(s, "$encodeUrl"), safe=";/?:@&=+$,#-_.!~*'()")


@builtin("$decodeUrlComponent", 1, ctx_default=True)
def _dec_url_c(ip, env, s=NOMATCH):
    return urllib.parse.unquote(_s(s, "$decodeUrlComponent"))


@builtin("$decodeUrl", 1, ctx_default=True)
def _dec_url(ip, env, s=NOMATCH):
    return urllib.parse.unquote(_s(s, "$decodeUrl"))


@builtin("$eval", 1, ctx_default=True)
def _eval_src(ip, env, src=NOMATCH):
    from ..lang.interp import Interp
    return Interp(ip.spark).run(_s(src, "$eval"))


# =================================================================== numeric

@builtin("$abs", 1, ctx_default=True)
def _abs(ip, env, n=NOMATCH):
    # check_i64: $abs(-2^63) leaves the int64 domain — Spark ANSI abs
    # on LONG min raises; the driver refuses the same program
    from ..lang.interp import check_i64
    return check_i64(abs(_n(n, "$abs")), "$abs result")


@builtin("$ceil", 1, ctx_default=True)
def _ceil(ip, env, n=NOMATCH):
    # Spark ceil(double) returns LONG under ANSI — a double past 2^63
    # raises there, so the integralized result is i64-guarded here
    from ..lang.interp import check_i64
    return check_i64(int(math.ceil(_n(n, "$ceil"))), "$ceil result")


@builtin("$floor", 1, ctx_default=True)
def _floor(ip, env, n=NOMATCH):
    from ..lang.interp import check_i64
    return check_i64(int(math.floor(_n(n, "$floor"))), "$floor result")


@builtin("$round", 1, ctx_default=True)
def _round(ip, env, n=NOMATCH, precision=0):
    # HALF_EVEN banker's rounding on the DECIMAL rendering of the number
    # (reference builtin.cljc:898-922 uses bigdec, which goes through
    # Double.toString — so 2.345 rounds to 2.34, not the binary 2.3450…2).
    import decimal
    n = _n(n, "$round")
    p = int(precision)
    d = decimal.Decimal(repr(n)).quantize(
        decimal.Decimal(1).scaleb(-p), rounding=decimal.ROUND_HALF_EVEN)
    if p <= 0:
        # integralize only inside the int64 domain: the column twin
        # (F.bround on DOUBLE) keeps double, so a huge rounded value
        # must stay float here too — returning a Python bignum would
        # leak past the language's defined integer boundary and make
        # downstream guarded arithmetic refuse programs Spark computes
        from ..lang.interp import I64_MAX, I64_MIN
        i = int(d)
        return i if I64_MIN <= i <= I64_MAX else float(d)
    return float(d)


@builtin("$sqrt", 1, ctx_default=True)
def _sqrt(ip, env, n=NOMATCH):
    n = _n(n, "$sqrt")
    if n < 0:
        raise RMFnError("$sqrt of negative number")
    return math.sqrt(n)


@builtin("$power", 2, ctx_default=True)
def _power(ip, env, b=NOMATCH, e=None):
    b = _n(b, "$power")
    e = _n(e, "$power")
    r = b ** e
    if isinstance(b, int) and isinstance(e, int) and e >= 0:
        return int(r)
    return r


@builtin("$random", 0)
def _rand(ip, env):
    return _random.random()


@builtin("$number", 1, ctx_default=True)
def _number(ip, env, v=NOMATCH):
    v = jflatten(v)
    if isinstance(v, bool):
        return 1 if v else 0
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        t = v.strip()
        try:
            if re.fullmatch(r"-?\d+", t):
                return int(t)
            if t.lower().startswith("0x"):
                return int(t, 16)
            return float(t)
        except ValueError:
            raise RMFnError(f"cannot cast {v!r} to a number") from None
    raise RMFnError(f"cannot cast {v!r} to a number")


@builtin("$formatBase", 1, ctx_default=True)
def _format_base(ip, env, n=NOMATCH, radix=10):
    n = int(_n(n, "$formatBase"))
    radix = int(radix)
    if not 2 <= radix <= 36:
        raise RMFnError("$formatBase radix must be in 2..36")
    if n == 0:
        return "0"
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    neg, n = n < 0, abs(n)
    out = ""
    while n:
        out = digits[n % radix] + out
        n //= radix
    return ("-" if neg else "") + out


def _picture_format(n: float, picture: str, opts: dict | None = None) -> str:
    """Subset of the XPath/DecimalFormat picture syntax used by
    $formatNumber (reference builtin.cljc:777-808): optional fraction and
    grouping, percent / per-mille multipliers, scientific 'E' pictures,
    and the decimal-format options map (minus-sign, per-mille,
    decimal-separator, grouping-separator, percent)."""
    import math
    o = {str(k): str(v) for k, v in (opts or {}).items()}
    minus = o.get("minus-sign", "-")
    dec_sep = o.get("decimal-separator", ".")
    grp_sep = o.get("grouping-separator", ",")
    pct_sym = o.get("percent", "%")
    pm_sym = o.get("per-mille", "‰")
    if ";" in picture:
        # DecimalFormat subpictures: positive;negative — the negative
        # subpicture carries its own affixes (e.g. parentheses), no minus
        pos_pic, neg_pic = picture.split(";", 1)
        if n < 0:
            body = re.sub(r"[^0#.,E]", "", neg_pic)
            pre = neg_pic[: neg_pic.index(body[0])] if body else neg_pic
            post = neg_pic[neg_pic.index(body[0]) + len(body):] if body else ""
            return pre + _picture_format(abs(n), body, opts) + post
        picture = pos_pic
    suffix = ""
    if picture.endswith(pct_sym):
        n, picture, suffix = n * 100, picture[: -len(pct_sym)], pct_sym
    elif picture.endswith(pm_sym):
        n, picture, suffix = n * 1000, picture[: -len(pm_sym)], pm_sym
    neg = n < 0
    n = abs(n)

    if "E" in picture:
        mant_pic, exp_pic = picture.split("E", 1)
        if "." in mant_pic:
            mi, mf = mant_pic.split(".", 1)
        else:
            mi, mf = mant_pic, ""
        int_digits = max(1, sum(c in "0#" for c in mi))
        exp = 0 if n == 0 else math.floor(math.log10(n)) - (int_digits - 1)
        mant = n / (10.0 ** exp)
        ms = f"{mant:.{len(mf)}f}" if mf else str(int(round(mant)))
        # rounding can carry the mantissa past its digit budget (9.99->10.0)
        if float(ms) >= 10.0 ** int_digits:
            exp += 1
            mant = n / (10.0 ** exp)
            ms = f"{mant:.{len(mf)}f}" if mf else str(int(round(mant)))
        es = str(abs(exp)).zfill(exp_pic.count("0"))
        res = ms.replace(".", dec_sep) + "e" + ("-" if exp < 0 else "") + es
        return (minus if neg else "") + res + suffix

    if "." in picture:
        int_pic, frac_pic = picture.split(".", 1)
    else:
        int_pic, frac_pic = picture, ""
    frac_digits = len(frac_pic)
    s = f"{n:.{frac_digits}f}" if frac_digits else str(int(round(n)))
    if frac_digits:
        int_part, frac_part = s.split(".")
    else:
        int_part, frac_part = s, ""
    min_int = int_pic.count("0")
    int_part = int_part.zfill(min_int)
    if "," in int_pic:
        # grouping size = digits after the last comma
        grp = len(int_pic.rsplit(",", 1)[1].replace(".", ""))
        out = ""
        while len(int_part) > grp:
            out = grp_sep + int_part[-grp:] + out
            int_part = int_part[:-grp]
        int_part = int_part + out
    res = int_part + (dec_sep + frac_part if frac_digits else "")
    return (minus if neg else "") + res + suffix


@builtin("$formatNumber", 2, ctx_default=True)
def _format_number(ip, env, n=NOMATCH, picture="", opts=None):
    return _picture_format(_n(n, "$formatNumber"), _s(picture, "$formatNumber"),
                           opts if isinstance(opts, dict) else None)


_ONES = ["zero", "one", "two", "three", "four", "five", "six", "seven", "eight",
         "nine", "ten", "eleven", "twelve", "thirteen", "fourteen", "fifteen",
         "sixteen", "seventeen", "eighteen", "nineteen"]
_TENS = ["", "", "twenty", "thirty", "forty", "fifty", "sixty", "seventy",
         "eighty", "ninety"]


def _int_words(n: int) -> str:
    if n < 0:
        return "minus " + _int_words(-n)
    if n < 20:
        return _ONES[n]
    if n < 100:
        return _TENS[n // 10] + ("-" + _ONES[n % 10] if n % 10 else "")
    for size, name in ((10 ** 9, "billion"), (10 ** 6, "million"), (10 ** 3, "thousand"), (100, "hundred")):
        if n >= size:
            rest = n % size
            return _int_words(n // size) + " " + name + (" " + _int_words(rest) if rest else "")
    return str(n)


_WORD_VALS: dict[str, int] = {}
for _i in range(20):
    _WORD_VALS[_ONES[_i]] = _i
for _i in range(2, 10):
    _WORD_VALS[_TENS[_i]] = _i * 10
_WORD_VALS.update({"hundred": 100, "thousand": 1000, "million": 10 ** 6,
                   "billion": 10 ** 9, "trillion": 10 ** 12,
                   "quadrillion": 10 ** 15})


def _roman(n: int) -> str:
    table = [(1000, "m"), (900, "cm"), (500, "d"), (400, "cd"), (100, "c"),
             (90, "xc"), (50, "l"), (40, "xl"), (10, "x"), (9, "ix"),
             (5, "v"), (4, "iv"), (1, "i")]
    out = ""
    for v, sym in table:
        while n >= v:
            out += sym
            n -= v
    return out


@builtin("$formatInteger", 2, ctx_default=True)
def _format_integer(ip, env, n=NOMATCH, picture=""):
    n = int(_n(n, "$formatInteger"))
    pic = _s(picture, "$formatInteger")
    if pic == "w":
        return _int_words(n)
    if pic == "W":
        return _int_words(n).upper()
    if pic == "Ww":
        return _int_words(n).title()
    if pic == "i":
        return _roman(n)
    if pic == "I":
        return _roman(n).upper()
    if pic in ("a", "A"):
        out = ""
        m = n
        while m > 0:
            m, r = divmod(m - 1, 26)
            out = chr(ord("a") + r) + out
        return out.upper() if pic == "A" else out
    return _picture_format(float(n), pic)


@builtin("$parseInteger", 2, ctx_default=True)
def _parse_integer(ip, env, s=NOMATCH, picture=""):
    s = _s(s, "$parseInteger")
    pic = _s(picture, "$parseInteger")
    if pic in ("w", "W", "Ww"):
        # English words -> int (reference util.cljc:262-280). 'and' is a
        # filler word — drop it as a TOKEN only (a substring replace would
        # corrupt 'thousand' -> 'thous')
        total, current = 0, 0
        for w in re.split(r"[\s,-]+", s.lower().strip()):
            if not w or w in ("and", "minus"):
                continue
            v = _WORD_VALS.get(w)
            if v is None:
                raise RMFnError(f"$parseInteger: unknown word {w!r}")
            if v == 100:
                current = max(current, 1) * 100
            elif v >= 1000:
                total += max(current, 1) * v
                current = 0
            else:
                current += v
        total += current
        if "minus" in s.lower():
            total = -total
        return total
    if pic in ("i", "I"):
        vals = {"i": 1, "v": 5, "x": 10, "l": 50, "c": 100, "d": 500, "m": 1000}
        t = s.lower()
        total = 0
        for i, ch in enumerate(t):
            v = vals[ch]
            if i + 1 < len(t) and vals[t[i + 1]] > v:
                total -= v
            else:
                total += v
        return total
    return int(re.sub(r"[^\d-]", "", s))


# =================================================================== aggregates

@builtin("$sum", 1, ctx_default=True)
def _sum(ip, env, arr=NOMATCH):
    vals = [_n(x, "$sum") for x in as_array(arr)]
    if all(isinstance(v, int) for v in vals):
        # all-integer sums run as a LEFT FOLD with a PER-STEP int64
        # guard — not a bignum total checked once at the end: Spark's
        # aggregate(0L, a + x) raises ANSI ARITHMETIC_OVERFLOW the
        # moment a PARTIAL sum leaves the domain (and the reference's
        # checked-long reduce throws the same), so a list like
        # [2^63-1, 1, -2] whose final total fits must still be refused
        # (r16 review finding, reproduced by the boundary fuzz)
        from ..lang.interp import check_i64
        total = 0
        for v in vals:
            total = check_i64(total + v, "$sum partial")
        return total
    return float(sum(vals))


@builtin("$max", 1, ctx_default=True)
def _max(ip, env, arr=NOMATCH):
    vals = [_n(x, "$max") for x in as_array(arr)]
    if not vals:
        return NOMATCH
    return max(vals)


@builtin("$min", 1, ctx_default=True)
def _min(ip, env, arr=NOMATCH):
    vals = [_n(x, "$min") for x in as_array(arr)]
    if not vals:
        return NOMATCH
    return min(vals)


@builtin("$average", 1, ctx_default=True)
def _average(ip, env, arr=NOMATCH):
    vals = [_n(x, "$average") for x in as_array(arr)]
    if not vals:
        return NOMATCH
    return sum(vals) / len(vals)


# =================================================================== boolean

@builtin("$boolean", 1, ctx_default=True)
def _boolean(ip, env, v=NOMATCH):
    return truthy(v)


@builtin("$not", 1, ctx_default=True)
def _not(ip, env, v=NOMATCH):
    return not truthy(v)


@builtin("$exists", 1, ctx_default=True)
def _exists(ip, env, v=NOMATCH):
    return not is_nomatch(jflatten(v))


# =================================================================== arrays

@builtin("$count", 1, ctx_default=True)
def _count(ip, env, arr=NOMATCH):
    return len(as_array(arr))


@builtin("$append", 2)
def _append(ip, env, a=NOMATCH, b=NOMATCH):
    return as_array(a) + as_array(b)


@builtin("$distinct", 1, ctx_default=True)
def _distinct(ip, env, arr=NOMATCH):
    out = []
    for x in as_array(arr):
        if not any(deep_eq(x, y) for y in out):
            out.append(x)
    return out


@builtin("$reverse", 1, ctx_default=True)
def _reverse(ip, env, arr=NOMATCH):
    return list(reversed(as_array(arr)))


@builtin("$shuffle", 1, ctx_default=True)
def _shuffle(ip, env, arr=NOMATCH):
    out = list(as_array(arr))
    _random.shuffle(out)
    return out


@builtin("$sort", 1, ctx_default=True)
def _sort(ip, env, arr=NOMATCH, cmp=None):
    items = list(as_array(arr))
    if cmp is None:
        return sorted(items, key=_sort_key)
    import functools

    def cmpf(a, b):
        return 1 if truthy(ip.call(cmp, [a, b], env)) else -1
    return sorted(items, key=functools.cmp_to_key(cmpf))


def _sort_key(v):
    if isinstance(v, bool):
        return (2, v)
    if isinstance(v, (int, float)):
        return (0, v)
    if isinstance(v, str):
        return (1, v)
    return (3, str(v))


@builtin("$zip", 1)
def _zip(ip, env, *arrays):
    cols = [as_array(a) for a in arrays]
    return [list(t) for t in zip(*cols)]


# =================================================================== objects

@builtin("$keys", 1, ctx_default=True)
def _keys(ip, env, obj=NOMATCH):
    obj = jflatten(obj)
    if isinstance(obj, dict):
        return list(obj.keys())
    if isinstance(obj, (list, JSeq)):
        seen: list = []
        for o in as_array(obj):
            if isinstance(o, dict):
                for k in o:
                    if k not in seen:
                        seen.append(k)
        return seen
    return NOMATCH


@builtin("$lookup", 2, ctx_default=True)
def _lookup(ip, env, obj=NOMATCH, key=""):
    obj = jflatten(obj)
    if isinstance(obj, dict):
        return obj.get(key, NOMATCH)
    if isinstance(obj, (list, JSeq)):
        out = JSeq()
        for o in as_array(obj):
            if isinstance(o, dict) and key in o:
                out.append(o[key])
        return out
    return NOMATCH


@builtin("$merge", 1, ctx_default=True)
def _merge(ip, env, objs=NOMATCH):
    out: dict = {}
    for o in as_array(objs):
        if not isinstance(o, dict):
            raise RMFnError("$merge expects objects")
        out.update(o)
    return out


@builtin("$spread", 1, ctx_default=True)
def _spread(ip, env, obj=NOMATCH):
    obj = jflatten(obj)
    if isinstance(obj, dict):
        return [{k: v} for k, v in obj.items()]
    if isinstance(obj, (list, JSeq)):
        out = []
        for o in as_array(obj):
            if isinstance(o, dict):
                out.extend({k: v} for k, v in o.items())
        return out
    return obj


@builtin("$each", 2, ctx_default=True)
def _each(ip, env, obj=NOMATCH, fn=None):
    obj = jflatten(obj)
    if not isinstance(obj, dict):
        raise RMFnError("$each expects an object")
    out = JSeq()
    for k, v in obj.items():
        out.append(ip.call(fn, [v, k], env))
    return out


@builtin("$sift", 2, ctx_default=True)
def _sift(ip, env, obj=NOMATCH, fn=None):
    obj = jflatten(obj)
    if not isinstance(obj, dict):
        raise RMFnError("$sift expects an object")
    out = {}
    for k, v in obj.items():
        nargs = _fn_arity(fn)
        args = [v, k, obj][:max(1, nargs)]
        if truthy(ip.call(fn, args, env)):
            out[k] = v
    return out


@builtin("$type", 1, ctx_default=True)
def _type(ip, env, v=NOMATCH):
    from ..lang.interp import Closure, ExpressFnV, QueryFnV, RMRegex
    v2 = jflatten(v)
    if is_nomatch(v2):
        return NOMATCH
    if v2 is None:
        return "null"
    if isinstance(v2, bool):
        return "boolean"
    if isinstance(v2, (int, float)):
        return "number"
    if isinstance(v2, str):
        return "string"
    if isinstance(v2, (list, JSeq)):
        return "array"
    if isinstance(v2, dict):
        return "object"
    if isinstance(v2, RMRegex):
        return "regex"
    if isinstance(v2, (Closure, BuiltinFn, QueryFnV, ExpressFnV)) or callable(v2):
        return "function"
    return type(v2).__name__


@builtin("$assert", 1)
def _assert(ip, env, cond=NOMATCH, msg="assertion failed"):
    if not truthy(cond):
        raise RMFnError(to_string(msg))
    return False


@builtin("$error", 1)
def _error(ip, env, msg="error"):
    raise RMFnError(to_string(msg))


@builtin("$mapObject", 2, ctx_default=True)
def _map_object(ip, env, obj=NOMATCH, fn=None):
    """fn(key, value [,index]) -> single-pair object, merged into result
    (reference builtin.cljc:2230-2262)."""
    obj = jflatten(obj)
    if not isinstance(obj, dict):
        raise RMFnError("$mapObject expects an object")
    out: dict = {}
    use_index = _fn_arity(fn) >= 3
    for i, (k, v) in enumerate(obj.items()):
        args = [k, v, i] if use_index else [k, v]
        ret = ip.call(fn, args, env)
        if not isinstance(ret, dict):
            raise RMFnError("$mapObject function must return an object")
        out.update(ret)
    return out


@builtin("$reduceKV", 2, ctx_default=True)
def _reduce_kv(ip, env, obj=NOMATCH, fn=None, init=None):
    obj = jflatten(obj)
    if not isinstance(obj, dict):
        raise RMFnError("$reduceKV expects an object")
    acc = init if init is not None else {}
    for k, v in obj.items():
        acc = ip.call(fn, [acc, k, v], env)
    return acc


@builtin("$assoc", 3)
def _assoc(ip, env, obj=NOMATCH, k=None, v=None):
    obj = jflatten(obj)
    if is_nomatch(obj) or obj is None:
        obj = {}  # like Clojure (assoc nil k v) — used by the shape recursion
    if not isinstance(obj, dict):
        raise RMFnError("$assoc expects an object")
    out = dict(obj)
    out[k] = v
    return out


@builtin("$update", 3)
def _update(ip, env, obj=NOMATCH, k=None, fn=None):
    obj = jflatten(obj)
    if is_nomatch(obj) or obj is None:
        obj = {}
    if not isinstance(obj, dict):
        raise RMFnError("$update expects an object")
    out = dict(obj)
    out[k] = ip.call(fn, [out.get(k, NOMATCH)], env)
    return out


def _fn_arity(fn) -> int:
    from ..lang.interp import Closure
    if isinstance(fn, Closure):
        return len(fn.params)
    if isinstance(fn, BuiltinFn):
        return fn.min_args
    return 1


# =================================================================== datetime

@builtin("$millis", 0)
def _millis(ip, env):
    return ip.now_millis


def _translate_picture(pic: str) -> str:
    """XPath datetime picture -> strftime (subset: reference
    builtin.cljc:1236-1298)."""
    mapping = [
        ("[Y0001]", "%Y"), ("[Y01]", "%y"), ("[Y]", "%Y"),
        ("[M01]", "%m"), ("[M]", "%m"),
        ("[D01]", "%d"), ("[D]", "%d"),
        ("[H01]", "%H"), ("[H]", "%H"),
        ("[h01]", "%I"), ("[h#1]", "%I"), ("[h]", "%I"),
        ("[m01]", "%M"), ("[m]", "%M"),
        ("[s01]", "%S"), ("[s]", "%S"),
        ("[f001]", "%f"), ("[P]", "%p"), ("[p]", "%p"),
        ("[z]", "%z"), ("[Z]", "%z"),
        ("[FNn]", "%A"), ("[MNn]", "%B"), ("[MN]", "%b"),
    ]
    out = pic
    for a, b in mapping:
        out = out.replace(a, b)
    return out


def _parse_tz(tz: str):
    """'+HHMM' / '-HH:MM' offset string -> tzinfo."""
    import datetime as dt
    m = re.fullmatch(r"([+-])(\d{2}):?(\d{2})", tz.strip())
    if not m:
        raise RMFnError(f"$fromMillis: bad timezone {tz!r}")
    sign = 1 if m.group(1) == "+" else -1
    delta = dt.timedelta(hours=int(m.group(2)), minutes=int(m.group(3)))
    return dt.timezone(sign * delta)


@builtin("$fromMillis", 1, ctx_default=True)
def _from_millis(ip, env, ms=NOMATCH, picture=None, tz=None):
    import datetime as dt
    ms = _n(ms, "$fromMillis")
    zone = _parse_tz(_s(tz, "$fromMillis")) if tz is not None else dt.timezone.utc
    t = dt.datetime.fromtimestamp(ms / 1000.0, zone)
    if picture is None:
        s = t.strftime("%Y-%m-%dT%H:%M:%S")
        frac = int(ms % 1000)
        return f"{s}.{frac:03d}Z"
    fmt = _translate_picture(_s(picture, "$fromMillis"))
    out = t.strftime(fmt)
    if "%f" in fmt:
        out = out.replace(t.strftime("%f"), f"{int(ms % 1000):03d}")
    return out


@builtin("$now", 0)
def _now(ip, env, picture=None, tz=None):
    return _from_millis.fn(ip, env, ip.now_millis, picture, tz) if picture is not None \
        else _from_millis.fn(ip, env, ip.now_millis)


# make decorated attrs accessible as BuiltinFn
_from_millis = REGISTRY["$fromMillis"]


@builtin("$toMillis", 1, ctx_default=True)
def _to_millis(ip, env, ts=NOMATCH, picture=None):
    import datetime as dt
    s = _s(ts, "$toMillis")
    if picture is not None:
        fmt = _translate_picture(_s(picture, "$toMillis"))
        t = dt.datetime.strptime(s, fmt).replace(tzinfo=dt.timezone.utc)
        return int(t.timestamp() * 1000)
    t = dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    if t.tzinfo is None:
        t = t.replace(tzinfo=dt.timezone.utc)
    return int(t.timestamp() * 1000)


# =================================================================== HOFs

@builtin("$map", 2)
def _map(ip, env, arr=NOMATCH, fn=None):
    from ..lang.interp import ExpressFnV
    if isinstance(fn, ExpressFnV):
        from ..operators.spark_bridge import SparkBindingSets
        if isinstance(arr, SparkBindingSets):
            from ..operators.express_spark import map_express_spark
            return map_express_spark(ip, arr, fn)
        from ..operators.express_local import instantiate_body
        return [instantiate_body(ip, fn, b, keyed=False) for b in as_array(arr)]
    items = as_array(arr)
    arity = _fn_arity(fn)
    out = JSeq()
    for i, x in enumerate(items):
        args = [x, i, items][:max(1, arity)]
        v = ip.call(fn, args, env)
        if not is_nomatch(v):
            out.append(v)
    return out


@builtin("$filter", 2)
def _filter(ip, env, arr=NOMATCH, fn=None):
    items = as_array(arr)
    arity = _fn_arity(fn)
    out = JSeq()
    for i, x in enumerate(items):
        args = [x, i, items][:max(1, arity)]
        if truthy(ip.call(fn, args, env)):
            out.append(x)
    return out


@builtin("$single", 2)
def _single(ip, env, arr=NOMATCH, fn=None):
    items = as_array(arr)
    hits = [x for i, x in enumerate(items)
            if truthy(ip.call(fn, [x, i, items][:max(1, _fn_arity(fn))], env))]
    if len(hits) != 1:
        raise RMFnError(f"$single matched {len(hits)} values")
    return hits[0]


@builtin("$reduce", 2)
def _reduce(ip, env, arr=NOMATCH, fn=None, init=None):
    from ..lang.interp import ExpressFnV
    if isinstance(fn, ExpressFnV):
        from ..operators.express_local import reduce_express
        return reduce_express(ip, arr, fn)
    items = as_array(arr)
    if init is not None:
        acc = init
        rest = items
    else:
        if not items:
            return NOMATCH
        acc, rest = items[0], items[1:]
    for x in rest:
        acc = ip.call(fn, [acc, x], env)
    return acc


# =================================================================== RM data ops

@builtin("$db", 1, ctx_default=True)
def _db(ip, env, data=NOMATCH):
    from ..operators.query_local import LocalDB
    from ..operators.spark_bridge import maybe_spark_db
    sdb = maybe_spark_db(ip, data)
    if sdb is not None:
        return sdb
    return LocalDB.from_data(jflatten(data))


@builtin("$get", 1)
def _get(ip, env, target=NOMATCH, opts=None):
    from ..sources.readers import rm_get
    return rm_get(ip, jflatten(target), opts)


@builtin("$put", 2)
def _put(ip, env, target=NOMATCH, obj=None):
    from ..sources.readers import rm_put
    return rm_put(ip, jflatten(target), obj)


@builtin("$getSpreadsheet", 2)
def _get_spreadsheet(ip, env, path=NOMATCH, sheet=None, invert=False):
    from ..sources.readers import read_spreadsheet
    return read_spreadsheet(_s(path, "$getSpreadsheet"), sheet, truthy(invert))


@builtin("$pull", 2)
def _pull(ip, env, eid=NOMATCH, db=None):
    from ..operators.query_local import LocalDB
    if isinstance(db, LocalDB):
        return db.pull(int(jflatten(eid)))
    raise RMFnError("$pull expects a local db")


@builtin("$schemaFor", 1, ctx_default=True)
def _schema_for(ip, env, data=NOMATCH):
    from ..operators.query_local import learn_schema
    return learn_schema(jflatten(data))


@builtin("$addSchema", 2)
def _add_schema(ip, env, db=NOMATCH, schema=None):
    from ..operators.query_local import LocalDB
    if isinstance(db, LocalDB):
        db.add_schema(schema)
        return db
    raise RMFnError("$addSchema expects a db")


@builtin("$qIdent", 1, ctx_default=True)
def _q_ident(ip, env, data=NOMATCH):
    from ..operators.query_local import q_ident
    return q_ident(ip, jflatten(data))


@builtin("$eIdent", 1, ctx_default=True)
def _e_ident(ip, env, data=NOMATCH):
    from ..operators.express_local import e_ident
    return e_ident(ip, jflatten(data))


@builtin("$identities", 1, ctx_default=True)
def _identities(ip, env, data=NOMATCH):
    return {"query": _q_ident.fn(ip, env, data), "express": _e_ident.fn(ip, env, data)}


_q_ident = REGISTRY["$qIdent"]
_e_ident = REGISTRY["$eIdent"]


@builtin("$llmExtract", 2)
def _llm_extract(ip, env, src=NOMATCH, seek=None):
    from ..operators.llm import llm_extract
    return llm_extract(_s(src, "$llmExtract"), _s(seek, "$llmExtract"))


@builtin("$llmMatch", 2)
def _llm_match(ip, env, src=NOMATCH, tar=None, opts=None):
    from ..operators.llm import llm_match
    return llm_match(src, tar, opts)


# ====================================================== table pipeline ops
# Extension tier (beyond the reference, like streaming — SURVEY §2.11
# pattern): the dedup/text/sampling/temporal operators exposed as RM
# builtins over Spark-backed tables, so an RM program can drive the whole
# training-data pipeline. Each takes/returns a SparkDB (lazy — plans
# compose across calls; materialization happens only at the program
# boundary like every other Spark value).

def _table_df(v, who: str):
    from ..operators.spark_bridge import SparkDB
    if isinstance(v, SparkDB):
        return v.df
    try:
        from pyspark.sql import DataFrame
        if isinstance(v, DataFrame):
            return v
    except Exception:  # pragma: no cover
        pass
    raise RMFnError(f"{who} requires a Spark-backed table ($db over a "
                    f"DataFrame); got {type(v).__name__}")


def _as_sdb(df):
    from ..operators.spark_bridge import SparkDB
    return SparkDB(df)


@builtin("$dedupExact", 1)
def _t_dedup_exact(ip, env, table=NOMATCH):
    from ..operators import dedup
    return _as_sdb(dedup.exact_dedup(_table_df(table, "$dedupExact")))


@builtin("$nearDupPairs", 1)
def _t_neardup(ip, env, table=NOMATCH, threshold=0.5):
    from ..operators import dedup
    return _as_sdb(dedup.minhash_lsh_pairs(
        _table_df(table, "$nearDupPairs"),
        jaccard_threshold=float(threshold)))


@builtin("$langID", 1)
def _t_lang_id(ip, env, table=NOMATCH):
    from ..operators import textstats
    return _as_sdb(textstats.lang_id(_table_df(table, "$langID")))


@builtin("$tokenCount", 1)
def _t_token_count(ip, env, table=NOMATCH):
    from ..operators import textstats
    return _as_sdb(textstats.token_count(_table_df(table, "$tokenCount")))


@builtin("$qualityScore", 1)
def _t_quality(ip, env, table=NOMATCH):
    from ..operators import textstats
    return _as_sdb(textstats.quality_score(_table_df(table, "$qualityScore")))


@builtin("$hashSplit", 2)
def _t_hash_split(ip, env, table=NOMATCH, id_col=NOMATCH):
    from ..operators import sampling
    return _as_sdb(sampling.hash_split(_table_df(table, "$hashSplit"),
                                       _s(id_col, "$hashSplit")))


@builtin("$samplePerGroup", 4)
def _t_sample_per_group(ip, env, table=NOMATCH, group=NOMATCH,
                        id_col=NOMATCH, n=NOMATCH):
    from ..operators import sampling
    return _as_sdb(sampling.cap_per_group(
        _table_df(table, "$samplePerGroup"),
        _s(group, "$samplePerGroup"),
        _s(id_col, "$samplePerGroup"), int(_n(n, "$samplePerGroup"))))


@builtin("$asofJoin", 3)
def _t_asof(ip, env, left=NOMATCH, right=NOMATCH, key=NOMATCH,
            left_ts="ts", right_ts="ts"):
    from ..operators import temporal
    return _as_sdb(temporal.asof_join(
        _table_df(left, "$asofJoin"), _table_df(right, "$asofJoin"),
        on=_s(key, "$asofJoin"),
        left_ts=_s(left_ts, "$asofJoin"),
        right_ts=_s(right_ts, "$asofJoin")))


@builtin("$timeRollup", 1)
def _t_rollup(ip, env, table=NOMATCH, ts_col="ts", key_col="event_type"):
    from ..operators import temporal
    return _as_sdb(temporal.time_rollup(
        _table_df(table, "$timeRollup"),
        ts_col=_s(ts_col, "$timeRollup"),
        key_col=_s(key_col, "$timeRollup")))


@builtin("$quantiles", 3)
def _t_quantiles(ip, env, table=NOMATCH, group=NOMATCH, value=NOMATCH):
    from ..operators import profiling
    return _as_sdb(profiling.group_quantiles(
        _table_df(table, "$quantiles"), _s(group, "$quantiles"),
        _s(value, "$quantiles")))


@builtin("$decontaminate", 2)
def _t_decontaminate(ip, env, corpus=NOMATCH, benchmark=NOMATCH, n=4):
    from ..operators import decontam
    return _as_sdb(decontam.decontaminate(
        _table_df(corpus, "$decontaminate"),
        _table_df(benchmark, "$decontaminate"),
        n=int(_n(n, "$decontaminate"))))


@builtin("$blocklistScrub", 2)
def _t_blocklist(ip, env, table=NOMATCH, terms=NOMATCH):
    from ..operators import decontam
    if not isinstance(terms, (list, tuple)):
        raise RMFnError("$blocklistScrub requires an array of terms")
    return _as_sdb(decontam.blocklist_scrub(
        _table_df(table, "$blocklistScrub"), [str(t) for t in terms]))


@builtin("$repetitionScore", 1)
def _t_repetition(ip, env, table=NOMATCH):
    from ..operators import textstats
    return _as_sdb(textstats.repetition_score(
        _table_df(table, "$repetitionScore")))


@builtin("$funnel", 2)
def _t_funnel(ip, env, table=NOMATCH, steps=NOMATCH, tolerance_sec=None):
    from ..operators import behavior
    if not isinstance(steps, (list, tuple)) or not steps:
        raise RMFnError("$funnel requires a non-empty array of step names")
    tol = None if tolerance_sec is None else int(_n(tolerance_sec, "$funnel"))
    return _as_sdb(behavior.funnel_stages(
        _table_df(table, "$funnel"), [str(s) for s in steps],
        tolerance_sec=tol))


@builtin("$cohortRetention", 1)
def _t_cohorts(ip, env, table=NOMATCH, bucket="week"):
    from ..operators import behavior
    return _as_sdb(behavior.cohort_retention(
        _table_df(table, "$cohortRetention"), bucket=_s(bucket,
                                                       "$cohortRetention")))


@builtin("$mergeLatest", 4)
def _t_merge_latest(ip, env, base=NOMATCH, changes=NOMATCH, key=NOMATCH,
                    ts_col=NOMATCH):
    from ..operators import cdc
    return _as_sdb(cdc.merge_latest(
        _table_df(base, "$mergeLatest"), _table_df(changes, "$mergeLatest"),
        keys=[_s(key, "$mergeLatest")], ts_col=_s(ts_col, "$mergeLatest")))


@builtin("$pageRank", 1)
def _t_pagerank(ip, env, edges=NOMATCH, iters=3):
    from ..operators import graph
    return _as_sdb(graph.pagerank(_table_df(edges, "$pageRank"),
                                  iters=int(_n(iters, "$pageRank"))))


@builtin("$annTopK", 3)
def _t_ann_topk(ip, env, corpus=NOMATCH, queries=NOMATCH, k=NOMATCH):
    from ..operators import similarity
    return _as_sdb(similarity.brute_force_topk(
        _table_df(corpus, "$annTopK"), _table_df(queries, "$annTopK"),
        k=int(_n(k, "$annTopK"))))


@builtin("$rangeSearch", 3)
def _t_range_search(ip, env, corpus=NOMATCH, queries=NOMATCH,
                    threshold=NOMATCH):
    from ..operators import similarity
    return _as_sdb(similarity.range_search(
        _table_df(corpus, "$rangeSearch"),
        _table_df(queries, "$rangeSearch"),
        threshold=float(_n(threshold, "$rangeSearch"))))


@builtin("$mixtureSample", 4)
def _t_mixture_sample(ip, env, table=NOMATCH, group=NOMATCH,
                      rates=NOMATCH, id_col=NOMATCH):
    from ..operators import sampling
    return _as_sdb(sampling.mixture_sample(
        _table_df(table, "$mixtureSample"), _s(group, "$mixtureSample"),
        _table_df(rates, "$mixtureSample"), _s(id_col, "$mixtureSample")))


@builtin("$iqrOutliers", 3)
def _t_iqr_outliers(ip, env, table=NOMATCH, group=NOMATCH, value=NOMATCH):
    from ..operators import profiling
    return _as_sdb(profiling.iqr_outliers(
        _table_df(table, "$iqrOutliers"), _s(group, "$iqrOutliers"),
        _s(value, "$iqrOutliers")))


@builtin("$fuzzyPairs", 2)
def _t_fuzzy_pairs(ip, env, table=NOMATCH, col=NOMATCH):
    from ..operators import dedup
    return _as_sdb(dedup.fuzzy_pairs_levenshtein(
        _table_df(table, "$fuzzyPairs"), _s(col, "$fuzzyPairs")))


@builtin("$chunkDocs", 1)
def _t_chunk_docs(ip, env, table=NOMATCH, chunk_tokens=32, overlap=8):
    from ..operators import chunking
    return _as_sdb(chunking.chunk_documents(
        _table_df(table, "$chunkDocs"),
        chunk_tokens=int(_n(chunk_tokens, "$chunkDocs")),
        overlap=int(_n(overlap, "$chunkDocs"))))


@builtin("$packSequences", 1)
def _t_pack_sequences(ip, env, table=NOMATCH, capacity=256,
                      group="source", n_tokens_col="n_tokens"):
    from ..operators import chunking
    return _as_sdb(chunking.pack_sequences(
        _table_df(table, "$packSequences"),
        capacity=int(_n(capacity, "$packSequences")),
        group_col=_s(group, "$packSequences"),
        n_tokens_col=_s(n_tokens_col, "$packSequences")))


@builtin("$piiScrub", 1)
def _t_pii_scrub(ip, env, table=NOMATCH):
    from ..operators import textstats
    return _as_sdb(textstats.pii_scrub(_table_df(table, "$piiScrub")))


@builtin("$invertedIndex", 1)
def _t_inverted_index(ip, env, table=NOMATCH, min_df=2, postings_cap=20):
    from ..operators import textstats
    return _as_sdb(textstats.inverted_index(
        _table_df(table, "$invertedIndex"),
        min_df=int(_n(min_df, "$invertedIndex")),
        postings_cap=int(_n(postings_cap, "$invertedIndex"))))


@builtin("$bm25", 2)
def _t_bm25(ip, env, table=NOMATCH, terms=NOMATCH, top_k=20):
    from ..operators import textstats
    if not isinstance(terms, (list, tuple)) or not terms:
        raise RMFnError("$bm25 requires a non-empty array of query terms")
    return _as_sdb(textstats.bm25_score(
        _table_df(table, "$bm25"), [str(t) for t in terms],
        top_k=int(_n(top_k, "$bm25"))))


@builtin("$kmeansAssign", 2)
def _t_kmeans_assign(ip, env, table=NOMATCH, k=NOMATCH):
    from ..operators import similarity
    return _as_sdb(similarity.kmeans_assign(
        _table_df(table, "$kmeansAssign"),
        k=int(_n(k, "$kmeansAssign"))))


@builtin("$gapfillDaily", 1)
def _t_gapfill_daily(ip, env, table=NOMATCH):
    from ..operators import temporal
    return _as_sdb(temporal.gapfill_daily(_table_df(table, "$gapfillDaily")))


@builtin("$transitions", 1)
def _t_transitions(ip, env, table=NOMATCH):
    from ..operators import behavior
    return _as_sdb(behavior.event_transitions(
        _table_df(table, "$transitions")))


@builtin("$rollingAnomalies", 1)
def _t_rolling_anomalies(ip, env, table=NOMATCH, lookback=20,
                         z_threshold=3.0):
    from ..operators import behavior
    return _as_sdb(behavior.rolling_anomalies(
        _table_df(table, "$rollingAnomalies"),
        lookback=int(_n(lookback, "$rollingAnomalies")),
        z_threshold=float(_n(z_threshold, "$rollingAnomalies"))))


@builtin("$chunkCDC", 1)
def _t_chunk_cdc(ip, env, table=NOMATCH, mod=16):
    from ..operators import chunking
    return _as_sdb(chunking.chunk_content_defined(
        _table_df(table, "$chunkCDC"), mod=int(_n(mod, "$chunkCDC"))))


@builtin("$kmeans", 2)
def _t_kmeans_lloyd(ip, env, table=NOMATCH, k=NOMATCH, iters=2):
    from ..operators import similarity
    return _as_sdb(similarity.kmeans_lloyd(
        _table_df(table, "$kmeans"), k=int(_n(k, "$kmeans")),
        iters=int(_n(iters, "$kmeans"))))


@builtin("$repeatedSpans", 1)
def _t_repeated_spans(ip, env, table=NOMATCH, span_tokens=15,
                      max_doc_freq=50):
    """Exact repeated-substring pairs (dedup.repeated_span_pairs):
    (id_a, id_b, n_shared_spans) for documents sharing a verbatim
    span_tokens-token run."""
    from ..operators import dedup
    return _as_sdb(dedup.repeated_span_pairs(
        _table_df(table, "$repeatedSpans"),
        span_tokens=int(_n(span_tokens, "$repeatedSpans")),
        max_doc_freq=int(_n(max_doc_freq, "$repeatedSpans"))))


@builtin("$semanticDedup", 2)
def _t_semantic_dedup(ip, env, table=NOMATCH, k=NOMATCH, threshold=0.4,
                      iters=2):
    """SemDeDup-style within-cluster near-dup pairs
    (similarity.semantic_dedup_pairs): (cluster, id_a, id_b, cosine)."""
    from ..operators import similarity
    return _as_sdb(similarity.semantic_dedup_pairs(
        _table_df(table, "$semanticDedup"),
        k=int(_n(k, "$semanticDedup")),
        threshold=float(_n(threshold, "$semanticDedup")),
        iters=int(_n(iters, "$semanticDedup"))))


@builtin("$uniqueCheck", 2)
def _t_unique_check(ip, env, table=NOMATCH, key=NOMATCH):
    from ..operators import quality as Q
    keys = key if isinstance(key, (list, tuple)) else [key]
    return _as_sdb(Q.unique_key_check(
        _table_df(table, "$uniqueCheck"),
        [_s(k, "$uniqueCheck") for k in keys], "table"))


@builtin("$fkCheck", 4)
def _t_fk_check(ip, env, fact=NOMATCH, fact_key=NOMATCH, dim=NOMATCH,
                dim_key=NOMATCH):
    from ..operators import quality as Q
    return _as_sdb(Q.foreign_key_check(
        _table_df(fact, "$fkCheck"), _s(fact_key, "$fkCheck"),
        _table_df(dim, "$fkCheck"), _s(dim_key, "$fkCheck"), "table"))


@builtin("$weightedSample", 4)
def _t_weighted_sample(ip, env, table=NOMATCH, group=NOMATCH,
                       weight=NOMATCH, k=NOMATCH, id_col="doc_id"):
    from ..operators import sampling
    return _as_sdb(sampling.weighted_sample_per_group(
        _table_df(table, "$weightedSample"), _s(group, "$weightedSample"),
        _s(id_col, "$weightedSample"), _s(weight, "$weightedSample"),
        k=int(_n(k, "$weightedSample"))))


@builtin("$labelPropagation", 1)
def _t_label_propagation(ip, env, edges=NOMATCH, iters=2):
    from ..operators import graph
    return _as_sdb(graph.label_propagation(
        _table_df(edges, "$labelPropagation"),
        iters=int(_n(iters, "$labelPropagation"))))


@builtin("$buildNearDupIndex", 2)
def _t_build_neardup_index(ip, env, table=NOMATCH, path=NOMATCH):
    """Persist the banded minhash index for a document corpus
    (dedup.build_minhash_index) — returns the path for chaining."""
    from ..operators import dedup
    p = _s(path, "$buildNearDupIndex")
    dedup.build_minhash_index(_table_df(table, "$buildNearDupIndex"), p)
    return p


@builtin("$compactNearDupIndex", 1)
def _t_compact_neardup_index(ip, env, path=NOMATCH):
    """Compact a persisted minhash index (fold its committed batch
    partitions into the seed, dropping duplicate rows;
    dedup.compact_minhash_index). Returns the rows removed."""
    from ..operators import dedup
    return dedup.compact_minhash_index(
        ip.spark, _s(path, "$compactNearDupIndex"))


@builtin("$compactEmbeddingIndex", 1)
def _t_compact_embedding_index(ip, env, path=NOMATCH):
    """Compact a persisted embedding index (fold its committed batch
    partitions into the seed, dropping vectors rows duplicate on id;
    dedup.compact_embedding_index). Returns the rows removed."""
    from ..operators import dedup
    return dedup.compact_embedding_index(
        ip.spark, _s(path, "$compactEmbeddingIndex"))


@builtin("$admitNearDupIndex", 2)
def _t_admit_neardup_index(ip, env, table=NOMATCH, path=NOMATCH):
    """ADMIT a document batch into a persisted minhash index
    (dedup.append_to_minhash_index — signatures for the batch only,
    appended to the index's seed partition; wrong-family params raise).
    Returns the path for chaining with $probeNearDupIndex."""
    from ..operators import dedup
    p = _s(path, "$admitNearDupIndex")
    dedup.append_to_minhash_index(_table_df(table, "$admitNearDupIndex"), p)
    return p


@builtin("$probeNearDupIndex", 2)
def _t_probe_neardup_index(ip, env, table=NOMATCH, path=NOMATCH,
                           threshold=0.5):
    """Probe a persisted minhash index with a batch of new documents
    (dedup.neardup_vs_index): (new_id, index_id, est_jaccard)."""
    from ..operators import dedup
    return _as_sdb(dedup.neardup_vs_index(
        _table_df(table, "$probeNearDupIndex"),
        _s(path, "$probeNearDupIndex"),
        jaccard_threshold=float(_n(threshold, "$probeNearDupIndex"))))


@builtin("$buildEmbeddingIndex", 2)
def _t_build_embedding_index(ip, env, table=NOMATCH, path=NOMATCH):
    """Persist the embedding index, the corpus's (id, v) vectors table
    (dedup.build_embedding_index) — returns the path for chaining."""
    from ..operators import dedup
    p = _s(path, "$buildEmbeddingIndex")
    dedup.build_embedding_index(_table_df(table, "$buildEmbeddingIndex"),
                                p)
    return p


@builtin("$admitEmbeddingIndex", 2)
def _t_admit_embedding_index(ip, env, table=NOMATCH, path=NOMATCH):
    """ADMIT a vector batch into a persisted embedding index
    (dedup.append_to_embedding_index — the batch's vectors rows are
    appended to the seed partition; an index of another kind raises) —
    returns the path for chaining."""
    from ..operators import dedup
    p = _s(path, "$admitEmbeddingIndex")
    dedup.append_to_embedding_index(
        _table_df(table, "$admitEmbeddingIndex"), p)
    return p


@builtin("$probeEmbeddingIndex", 2)
def _t_probe_embedding_index(ip, env, table=NOMATCH, path=NOMATCH,
                             threshold=0.45):
    """Probe a persisted embedding index with a batch of new vectors
    (dedup.neardup_embedding_vs_index, one exact cosine_join; an
    oversized batch loses the broadcast under rm.broadcastMaxBytes):
    (new_id, index_id, cosine)."""
    from ..operators import dedup
    return _as_sdb(dedup.neardup_embedding_vs_index(
        _table_df(table, "$probeEmbeddingIndex"),
        _s(path, "$probeEmbeddingIndex"),
        threshold=float(_n(threshold, "$probeEmbeddingIndex"))))


@builtin("$gramMatrix", 1)
def _t_gram_matrix(ip, env, table=NOMATCH, vec_col="embedding"):
    """Distributed scaled-integer Gram matrix (linalg.gram_matrix):
    (i, j, gram_scaled) upper triangle, engine-exact (per-row floor to
    the 1e-12 grid before any summation)."""
    from ..operators import linalg
    return _as_sdb(linalg.gram_matrix(
        _table_df(table, "$gramMatrix"), _s(vec_col, "$gramMatrix")))


@builtin("$pcaProject", 2)
def _t_pca_project(ip, env, table=NOMATCH, k=NOMATCH,
                   vec_col="embedding", id_col="vec_id", whiten=False):
    """Project embeddings onto the top-k PCA components
    (linalg.pca_project — fit from the distributed gram + mean, map-only
    projection): (id, proj array<double>). whiten=true scales each
    component to unit variance."""
    from ..operators import linalg
    return _as_sdb(linalg.pca_project(
        _table_df(table, "$pcaProject"),
        k=int(_n(k, "$pcaProject")),
        vec_col=_s(vec_col, "$pcaProject"),
        id_col=_s(id_col, "$pcaProject"),
        # language truthiness, not Python's: a path-navigated false
        # arrives JSeq-wrapped and bool(JSeq([False])) is True
        whiten=truthy(jflatten(whiten))))


@builtin("$linearProbe", 3)
def _t_linear_probe(ip, env, table=NOMATCH, feats=NOMATCH,
                    label=NOMATCH, lam=1e-6):
    """Closed-form ridge linear probe (linalg.fit_ridge): fit on the
    table's feature columns against the label column (one d²-bounded
    moment pass + driver solve), then score every row with a
    pure-Catalyst projection — returns the table plus ``probe_score``."""
    from ..operators import linalg
    df = _table_df(table, "$linearProbe")
    fc = [_s(c, "$linearProbe") for c in as_array(jflatten(feats))]
    w, _cnt = linalg.fit_ridge(df, fc, _s(label, "$linearProbe"),
                               lam=float(_n(lam, "$linearProbe")))
    return _as_sdb(df.withColumn("probe_score",
                                 linalg.linear_score(w, fc)))


@builtin("$dsirSelect", 3)
def _t_dsir_select(ip, env, raw=NOMATCH, target=NOMATCH, k=NOMATCH,
                   text_col="text", id_col="doc_id"):
    """Importance-weighted data selection (operators.selection,
    DSIR-shaped): score ``raw`` docs by hashed-bigram likeness to the
    ``target`` sample, return the deterministic top-k as (id, score,
    sel_rank)."""
    from ..operators import selection
    return _as_sdb(selection.dsir_select(
        _table_df(raw, "$dsirSelect"),
        _table_df(target, "$dsirSelect"),
        k=int(_n(k, "$dsirSelect")),
        text_col=_s(text_col, "$dsirSelect"),
        id_col=_s(id_col, "$dsirSelect")))
