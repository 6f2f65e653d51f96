"""Build-parameter metadata for persisted indexes.

A persisted LSH/IVF index is only meaningful to a probe that uses the
SAME hash-family parameters (bands, planes, seed, ...): a mismatched
probe computes signatures in a different family and the candidate
equi-join silently returns plausible-but-wrong results. Matching the
reference's fail-loudly posture (reference src/lib/query.cljc:11-23
raises on heterogeneous types rather than coercing), every index build
writes a one-row ``_meta`` text dataset of its parameters next to the
data, and every probe asserts its own parameters against it — a
mismatch RAISES instead of returning garbage.

The sidecar is written and read through the Hadoop FS API (no Spark
job), so it works on any Hadoop-visible filesystem, not just the local
disk. The reader also takes a sidecar Spark's text writer made (part
files plus ``_SUCCESS``).
"""

from __future__ import annotations

import json


class IndexParamMismatch(ValueError):
    """Probe parameters disagree with the persisted index's build
    parameters — the probe would return wrong candidates, so it must
    not run."""


def _meta_fs(spark, path: str):
    """(jvm, Hadoop FileSystem, Path of ``<path>/_meta``)."""
    jvm = spark._jvm
    meta_dir = jvm.org.apache.hadoop.fs.Path(f"{path}/_meta")
    return jvm, meta_dir.getFileSystem(spark._jsc.hadoopConfiguration()), \
        meta_dir


def write_index_meta(spark, path: str, kind: str, params: dict) -> None:
    """Persist ``{kind, **params}`` as ``<path>/_meta`` (one text row in
    one part file, replacing the directory)."""
    jvm, fs, meta_dir = _meta_fs(spark, path)
    fs.delete(meta_dir, True)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(meta_dir, "part-00000"))
    try:
        out.write(bytearray(json.dumps({"kind": kind, **params},
                                       sort_keys=True) + "\n", "utf-8"))
    finally:
        out.close()


def read_index_meta(spark, path: str):
    """The persisted meta dict, or None for an index without a sidecar
    (built before metadata existed, or deleted). Read straight from the
    part file through the Hadoop FS API on every call: no Spark job and
    no cache, so a sidecar another process rewrote is seen at once. Any
    other filesystem error propagates, and so does a sidecar that does
    not parse (or is empty): corruption must never pass the guard."""
    jvm, fs, meta_dir = _meta_fs(spark, path)
    if not fs.exists(meta_dir):
        return None
    # the part files, in name order; like spark.read.text, skip the
    # _SUCCESS marker and hidden (.crc) files
    parts = sorted((st.getPath().getName(), st.getPath())
                   for st in fs.listStatus(meta_dir))
    text = ""
    for name, part in parts:
        if name.startswith(("_", ".")):
            continue
        stream = fs.open(part)
        try:
            text += bytes(jvm.org.apache.hadoop.io.IOUtils
                          .readFullyToByteArray(stream)).decode("utf-8")
        finally:
            stream.close()
    return json.loads(text.splitlines()[0] if text else "")


def check_index_meta(spark, path: str, kind: str, params: dict,
                     who: str) -> None:
    """Raise IndexParamMismatch unless the probe's (kind, params) match
    the persisted sidecar. Missing sidecar (legacy index) passes."""
    meta = read_index_meta(spark, path)
    if meta is None:
        return
    want = {"kind": kind, **params}
    diffs = {k: (meta.get(k), v) for k, v in want.items()
             if meta.get(k) != v}
    if diffs:
        detail = ", ".join(f"{k}: index={a!r} probe={b!r}"
                           for k, (a, b) in sorted(diffs.items()))
        raise IndexParamMismatch(
            f"{who}: probe parameters do not match the index built at "
            f"{path} ({detail}). Probing with mismatched parameters "
            f"would return wrong candidates; rebuild the index or probe "
            f"with the recorded parameters.")
