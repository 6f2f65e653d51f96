"""`$get` / `$put` / `$getSpreadsheet` sources (SURVEY.md §2.1).

`$get` forms supported:
- path string ending .json/.edn-like  -> parsed JSON document (driver side)
- path ending .xml                    -> simplified XML -> nested maps
- path ending .parquet / 'table://x'  -> SparkDB over spark.read.parquet
- [ident, val] pair                   -> catalog lookup (library table)

The reference reads local JSON/XML/EDN (builtin.cljc:1528-1596) and a
codelib DB via pathom resolvers; here the codelib is a JSON catalog file
(driver) — a Delta/parquet table on a real deployment.
"""

from __future__ import annotations

import json
import os
import threading
from typing import Any, Optional

from ..lang.values import JSeq, NOMATCH

CATALOG_PATH = os.environ.get("RM_CATALOG_PATH", "/tmp/rm_catalog.json")
_CATALOG_LOCK = threading.Lock()


def rm_get(ip, target, opts=None):
    from ..operators.spark_bridge import SparkDB
    if isinstance(target, str):
        if target.startswith("table://"):
            name = target[len("table://"):]
            if ip.spark is None:
                raise ValueError("$get(table://) needs a SparkSession")
            from ..session import DEFAULT_SF_DIR, load_tables
            return SparkDB(load_tables(ip.spark, DEFAULT_SF_DIR)[name], name)
        if target.endswith(".parquet"):
            if ip.spark is None:
                raise ValueError("$get(.parquet) needs a SparkSession")
            ip.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            return SparkDB(ip.spark.read.parquet(target))
        if target.endswith(".jsonl") or target.endswith(".ndjson"):
            # line-delimited corpus files are a DISTRIBUTED read: one
            # JSON document per line is the standard crawl/corpus
            # interchange shape, and driver-side parsing would serialize
            # a 100 TB ingest through one process
            if ip.spark is None:
                raise ValueError("$get(.jsonl) needs a SparkSession")
            return SparkDB(ip.spark.read.json(target))
        if target.endswith(".csv") and (opts or {}).get("table"):
            # opts {'table': true}: distributed CSV -> SparkDB (header
            # row names the columns; values stay strings unless the
            # caller casts — inference is explicitly NOT used, schema
            # drift between files must fail loudly, not guess)
            if ip.spark is None:
                raise ValueError("$get(.csv, table) needs a SparkSession")
            return SparkDB(ip.spark.read.option("header", "true")
                           .csv(target))
        if target.endswith(".json"):
            with open(target) as f:
                return json.load(f)
        if target.endswith(".xml"):
            return read_xml(target)
        if target.endswith(".edn"):
            from .edn import load_file
            return load_file(target)
        raise ValueError(f"$get: unsupported source {target!r}")
    if isinstance(target, (list, JSeq)):
        return catalog_get(list(target), opts)
    raise ValueError(f"$get: unsupported target {target!r}")


def read_xml(path: str):
    """XML -> simplified nested maps (reference util.cljc:206-217
    simplify-xml: tag -> key, attrs merged, repeated children -> arrays)."""
    import xml.etree.ElementTree as ET
    root = ET.parse(path).getroot()
    return {_tag(root): _simplify(root)}


def _tag(el) -> str:
    t = el.tag
    return t.split("}", 1)[1] if "}" in t else t


def _simplify(el):
    children = list(el)
    if not children and not el.attrib:
        return (el.text or "").strip()
    out: dict = {}
    for k, v in el.attrib.items():
        out[k] = v
    for c in children:
        key = _tag(c)
        v = _simplify(c)
        if key in out:
            if not isinstance(out[key], list):
                out[key] = [out[key]]
            out[key].append(v)
        else:
            out[key] = v
    text = (el.text or "").strip()
    if text and not children:
        out["_text"] = text
    return out


# ------------------------------------------------------------- catalog

def _load_catalog() -> dict:
    if os.path.exists(CATALOG_PATH):
        with open(CATALOG_PATH) as f:
            return json.load(f)
    return {}


def catalog_get(ident: list, props=None):
    cat = _load_catalog()
    key = f"{ident[0]}={ident[1]}" if len(ident) > 1 else str(ident[0])
    obj = cat.get(key)
    if obj is None:
        return NOMATCH
    if props:
        return {k: v for k, v in obj.items() if k in props}
    return obj


def rm_put(ip, target, obj):
    """Store ``obj`` under ``target``. Puts are serialised by a module
    lock, and each writes a temp file next to the catalog and renames it
    over the catalog, so a concurrent reader always sees a whole file
    and no put is lost (the HTTP server is threaded)."""
    key = f"{target[0]}={target[1]}" if len(target) > 1 else str(target[0])
    with _CATALOG_LOCK:
        cat = _load_catalog()
        cat[key] = obj
        tmp = f"{CATALOG_PATH}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(cat, f)
        os.replace(tmp, CATALOG_PATH)
    return obj


# ------------------------------------------------------------- spreadsheet

_XNS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_RNS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_RELNS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"


def _col_index(ref: str) -> int:
    """'A1' -> 0, 'B3' -> 1, 'AA7' -> 26 (cell reference -> column index)."""
    n = 0
    for ch in ref:
        if not ch.isalpha():
            break
        n = n * 26 + (ord(ch.upper()) - ord("A") + 1)
    return n - 1


def _xlsx_matrix(path: str, sheet=None) -> list[list]:
    """Minimal .xlsx reader on the stdlib only (zip of XML — no external
    engine in this environment): resolves the sheet by name via
    workbook.xml rels, decodes sharedStrings, returns a dense row matrix."""
    import xml.etree.ElementTree as ET
    import zipfile
    z = zipfile.ZipFile(path)
    shared: list[str] = []
    if "xl/sharedStrings.xml" in z.namelist():
        for si in ET.fromstring(z.read("xl/sharedStrings.xml")).findall(f"{_XNS}si"):
            shared.append("".join(t.text or "" for t in si.iter(f"{_XNS}t")))
    rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
    rid_target = {r.get("Id"): r.get("Target")
                  for r in rels.findall(f"{_RNS}Relationship")}
    sheet_file = None
    sheets = ET.fromstring(z.read("xl/workbook.xml")).find(f"{_XNS}sheets")
    names = []
    for sh in (sheets if sheets is not None else []):
        names.append(sh.get("name"))
        if sheet is None or sh.get("name") == sheet:
            tgt = rid_target.get(sh.get(f"{_RELNS}id")) or "worksheets/sheet1.xml"
            sheet_file = tgt if tgt.startswith("xl/") else "xl/" + tgt.lstrip("/")
            break
    if sheet_file is None:
        if sheet is not None:
            # a silent sheet1 fallback would return data from the WRONG sheet
            raise ValueError(f"sheet {sheet!r} not found in {path}; "
                             f"available: {names}")
        sheet_file = "xl/worksheets/sheet1.xml"
    rows: list[list] = []
    for row in ET.fromstring(z.read(sheet_file)).iter(f"{_XNS}row"):
        cells: dict[int, Any] = {}
        next_idx = 0  # cells without an r= reference advance sequentially
        for c in row.findall(f"{_XNS}c"):
            ref = c.get("r")
            idx = _col_index(ref) if ref else next_idx
            next_idx = idx + 1
            t = c.get("t", "n")
            v = c.find(f"{_XNS}v")
            if t == "s":
                val = shared[int(v.text)] if v is not None else ""
            elif t == "inlineStr":
                val = "".join(tt.text or "" for tt in c.iter(f"{_XNS}t"))
            elif v is None or v.text is None:
                continue
            elif t == "b":
                val = v.text == "1"
            else:
                txt = v.text
                val = float(txt) if ("." in txt or "e" in txt.lower()) else int(txt)
            cells[idx] = val
        if cells:
            width = max(cells) + 1
            rows.append([cells.get(i) for i in range(width)])
    width = max((len(r) for r in rows), default=0)
    return [r + [None] * (width - len(r)) for r in rows]


def read_spreadsheet(path: str, sheet=None, invert: bool = False):
    """.xlsx / .csv rows -> maps keyed by header names, optional transpose
    (reference builtin.cljc:1626-1675 $getSpreadsheet)."""
    if path.endswith(".csv"):
        import csv
        with open(path, newline="") as f:
            matrix = [[_csv_val(x) for x in row] for row in csv.reader(f)]
    else:
        matrix = _xlsx_matrix(path, sheet)
    if invert:
        matrix = [list(col) for col in zip(*matrix)]
    if not matrix:
        return []
    headers = [str(h) if h is not None else f"_c{i}"
               for i, h in enumerate(matrix[0])]
    return [
        {h: v for h, v in zip(headers, row) if v is not None}
        for row in matrix[1:]
    ]


def _csv_val(s: str):
    for conv in (int, float):
        try:
            return conv(s)
        except ValueError:
            pass
    return s
