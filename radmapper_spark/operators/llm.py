"""LLM-assisted operators (`$llmExtract`, `$llmMatch`) — SURVEY.md §2.10.

The reference posts to an OpenAI-style chat endpoint (builtin.cljc:
2489-2738, the POST itself at 2626-2642). Here the HTTP client is real
(stdlib urllib, chat-completions request/response shape) and activates
when ``RM_LLM_ENDPOINT`` is set — a deployment needs only the env var
(+ optional ``RM_LLM_API_KEY`` / ``RM_LLM_MODEL``). Without it, a
deterministic heuristic keeps the operators testable offline; the
Spark-side plumbing (batched pandas UDF over a text column — the shape
that matters at scale) is identical in both modes.
"""

from __future__ import annotations

import os
import re
from typing import Any, Optional


def _call_llm(prompt: str, system: str = "You are a data extraction assistant. Reply with ONLY the extracted value.") -> str:
    """POST one chat-completions request to RM_LLM_ENDPOINT and return the
    assistant message content (reference builtin.cljc:2626-2642 — query-llm
    posts {model, messages} and reads choices[0].message.content)."""
    endpoint = os.environ.get("RM_LLM_ENDPOINT")
    if not endpoint:
        raise NotImplementedError(
            "LLM endpoint not configured (set RM_LLM_ENDPOINT); "
            "use llm_extract_column for the deterministic Spark path"
        )
    import json as _json
    import urllib.request as _rq

    body = _json.dumps({
        "model": os.environ.get("RM_LLM_MODEL", "gpt-4o-mini"),
        "messages": [{"role": "system", "content": system},
                     {"role": "user", "content": prompt}],
        "temperature": 0,
    }).encode("utf-8")
    headers = {"Content-Type": "application/json"}
    key = os.environ.get("RM_LLM_API_KEY")
    if key:
        headers["Authorization"] = f"Bearer {key}"
    req = _rq.Request(endpoint, data=body, headers=headers, method="POST")
    with _rq.urlopen(req, timeout=float(os.environ.get("RM_LLM_TIMEOUT", "30"))) as resp:
        payload = _json.loads(resp.read().decode("utf-8"))
    return payload["choices"][0]["message"]["content"]


def _heuristic_extract(src: str, seek: str) -> Optional[str]:
    """Deterministic fallback used for tests: pull the value following the
    sought label, or the first number/email-ish token matching the ask."""
    m = re.search(rf"{re.escape(seek)}\s*(?:is|was|are|were|[:=])?\s*([^\s,;]+)",
                  src, re.IGNORECASE)
    if m:
        return m.group(1)
    if "number" in seek.lower() or "amount" in seek.lower():
        m = re.search(r"-?\d+(\.\d+)?", src)
        return m.group(0) if m else None
    return None


def llm_extract(src: str, seek: str):
    if os.environ.get("RM_LLM_ENDPOINT"):
        return _call_llm(f"Extract the {seek} from the following text:\n\n{src}")
    out = _heuristic_extract(src, seek)
    return out if out is not None else None


# ----------------------------------------------------------------- $llmMatch
# Reference flow (builtin.cljc:2332-2623): placeholder-ize both schemas
# (source leaf strings -> unique "<kebab-key-data>" names, target leaf
# strings -> "<replace-me>"), prompt the LLM with instructions + worked
# examples + the two forms, parse the answer object, then post-process:
# data placeholders become "$data.<path>" expressions into the source,
# {"concat": [...]} becomes `a & b`, {"extract-from": p, "value": v}
# becomes `$llmExtract(p, 'v')`, and (asFn) the whole mapping renders as a
# `function($data){...}` source string.

_MATCH_SYSTEM = """\
Wherever you can, replace each "<replace-me>" string in the target_form with similar information from the source_form.
Both source_form and target_form are JSON objects.
Because the structure of the source_form does not match that of the target_form perfectly, you should do the following to make things work:

(1) If a target_form field appears to concern multiple source_form fields, give that target_form field a value consisting of an object with one key, "concat", the value of which is an array of the source form fields it concerns.
For example: {"AddressLine": {"concat": ["<company-name-data>", "<street-address-data>"]}}
(2) Conversely, if source_form has a general field that might contain information for more specific target_form fields, give each of those target_form fields an object value {"extract-from": "<the-general-data>", "value": "TheSpecificField"}.
(3) If there is nothing in source_form that seems to match the needed information in target_form, just leave the value "<replace-me>" in target_form.
(4) The answer should not contain any keys that are not in the target_form.
Reply with ONLY the answer JSON object.
"""

_MATCH_EXAMPLE = """
An example:

source_form 1:
{"Invoice": {"Buyer": {"Address": {"CompanyName": "<company-name-data>", "Street": "<street-data>", "City": "<city-data>"}}}}

target_form 1:
{"Invoice": {"BuyerParty": {"Address": {"AddressLine1": "<replace-me>", "City": "<replace-me>"}}}}

answer 1:
{"Invoice": {"BuyerParty": {"Address": {"AddressLine1": {"concat": ["<company-name-data>", "<street-data>"]}, "City": "<city-data>"}}}}
"""


def _kebab(s: str) -> str:
    s = re.sub(r"([a-z0-9])([A-Z])", r"\1-\2", str(s))
    return re.sub(r"[^A-Za-z0-9]+", "-", s).strip("-").lower()


def _match_pre(obj, replace_me: bool, used=None):
    """builtin.cljc:2493-2515 llm-match-pre: leaf strings -> placeholders;
    source placeholders are made unique with _N suffixes."""
    if used is None:
        used = set()

    def nxt(name):
        if name not in used:
            used.add(name)
            return name
        i = 1
        while f"{name[:-1]}_{i}>" in used:
            i += 1
        out = f"{name[:-1]}_{i}>"
        used.add(out)
        return out

    def walk(o):
        if isinstance(o, dict):
            return {k: ("<replace-me>" if replace_me else nxt(f"<{_kebab(k)}-data>"))
                    if isinstance(v, str) else walk(v)
                    for k, v in o.items()}
        if isinstance(o, list):
            return [walk(x) for x in o]
        return o

    return walk(obj)


def _path_to(obj, seek, prefix=""):
    """builtin.cljc:2587-2603 path-to: dotted path of `seek` inside obj."""
    if isinstance(obj, dict):
        for k, v in obj.items():
            p = f"{prefix}.{k}" if prefix else str(k)
            if v == seek:
                return p
            found = _path_to(v, seek, p)
            if found is not None:
                return found
    elif isinstance(obj, list):
        for i, v in enumerate(obj):
            found = _path_to(v, seek, prefix)
            if found is not None:
                return found
    return None


def _match_postprocess(ans, src_ph):
    """builtin.cljc:2605-2623: placeholders -> `$data.<path>` expressions;
    concat/extract-from objects -> RADmapper expression strings."""
    def walk(o):
        if isinstance(o, dict):
            if "extract-from" in o:
                path = walk(o["extract-from"])
                return f"$llmExtract({path}, '{o.get('value', '')}')"
            if "concat" in o:
                return " & ".join(walk(x) for x in o["concat"])
            return {k: walk(v) for k, v in o.items()}
        if isinstance(o, list):
            return [walk(x) for x in o]
        if isinstance(o, str) and re.fullmatch(r"<[^>]+>", o):
            p = _path_to(src_ph, o)
            return f"$data.{p}" if p else o  # unresolved => '<replace-me>'
        return o

    return walk(ans)


def _match_as_fn(mapping) -> str:
    """builtin.cljc:2563-2583 match-post-as-fn: render the mapping as a
    RADmapper function source string."""
    import json as _json
    body = _json.dumps(mapping, indent=2)
    # expression values were produced as plain strings; strip the quotes
    # around anything that looks like an expression so the body is code
    body = re.sub(r'"(\$data\.[^"]*|\$llmExtract\([^"]*\)[^"]*)"', r"\1", body)
    return "function($data){\n%s\n}" % body


def llm_match(src, tar, opts=None):
    """Schema shape-matching: driver-level operation on two schemas.
    With RM_LLM_ENDPOINT set, POSTs the reference's matching prompt
    (builtin.cljc:2358-2486) and post-processes the answer into `$data.`
    paths / `$llmExtract` calls plus a generated mapping-function source.
    Offline, a deterministic normalized-name alignment keeps it testable."""
    opts = opts or {}
    if os.environ.get("RM_LLM_ENDPOINT"):
        import json as _json
        src_ph = _match_pre(src, False)
        tar_ph = _match_pre(tar, True)
        prompt = (_MATCH_EXAMPLE + "\n\n"
                  "source_form 2:\n" + _json.dumps(src_ph, indent=1) + "\n\n"
                  "target_form 2:\n" + _json.dumps(tar_ph, indent=1) + "\n\n"
                  "answer 2:\n")
        content = _call_llm(prompt, system=_MATCH_SYSTEM)
        content = re.sub(r"^```(json)?|```$", "", content.strip(),
                         flags=re.MULTILINE).strip()
        ans = _json.loads(content)
        mapping = _match_postprocess(ans, src_ph)
        out = {"mapping": mapping, "method": "llm"}
        if opts.get("asFn", True):
            out["fn_src"] = _match_as_fn(mapping)
        return out

    def names(obj, prefix=""):
        out = {}
        if isinstance(obj, dict):
            for k, v in obj.items():
                p = f"{prefix}.{k}" if prefix else str(k)
                out[_canon(k)] = p
                out.update(names(v, p))
        return out

    def _canon(s: str) -> str:
        return re.sub(r"[^a-z0-9]", "", str(s).lower())

    src_names = names(src)
    tar_names = names(tar)
    mapping = {sp: tar_names[n] for n, sp in src_names.items() if n in tar_names}
    return {"mapping": mapping, "method": "name-alignment-fallback"}


def llm_extract_column(df, text_col: str, seek: str, out_col: str = "extracted"):
    """Batched extraction over a DataFrame text column: Arrow-batched
    pandas UDF (the 100 TB path — one LLM/heuristic call per row inside a
    vectorized batch, never a driver loop)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    # NB: the extraction logic is inlined (not a module-global reference) so
    # cloudpickle ships it BY VALUE — executor Python workers must not need
    # `radmapper_spark` importable (the driver may run from any cwd). The
    # endpoint config is captured at plan build so executors don't depend on
    # their own env propagation.
    endpoint = os.environ.get("RM_LLM_ENDPOINT")
    model = os.environ.get("RM_LLM_MODEL", "gpt-4o-mini")
    api_key = os.environ.get("RM_LLM_API_KEY")
    timeout = float(os.environ.get("RM_LLM_TIMEOUT", "30"))

    def extract(batch):
        import re as _re

        def live(src):
            import json as _json
            import urllib.request as _rq
            body = _json.dumps({
                "model": model,
                "messages": [
                    {"role": "system",
                     "content": "You are a data extraction assistant. "
                                "Reply with ONLY the extracted value."},
                    {"role": "user",
                     "content": f"Extract the {seek} from the following "
                                f"text:\n\n{src}"}],
                "temperature": 0,
            }).encode("utf-8")
            headers = {"Content-Type": "application/json"}
            if api_key:
                headers["Authorization"] = f"Bearer {api_key}"
            req = _rq.Request(endpoint, data=body, headers=headers,
                              method="POST")
            with _rq.urlopen(req, timeout=timeout) as resp:
                payload = _json.loads(resp.read().decode("utf-8"))
            return payload["choices"][0]["message"]["content"]

        def one(src):
            m = _re.search(rf"{_re.escape(seek)}\s*[:=]?\s*([^\s,;]+)", src,
                           _re.IGNORECASE)
            if m:
                return m.group(1)
            if "number" in seek.lower() or "amount" in seek.lower():
                m = _re.search(r"-?\d+(\.\d+)?", src)
                return m.group(0) if m else None
            return None

        fn = live if endpoint else (lambda s: one(s))
        return batch.map(lambda s: fn(s or ""))

    # `from __future__ import annotations` stringifies hints, which the
    # pandas_udf inspector can't resolve — set them as real objects
    extract.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    extract_udf = pandas_udf(extract, "string")

    return df.withColumn(out_col, extract_udf(F.col(text_col)))
