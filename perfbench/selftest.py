"""Self-test of the seeded generators:

    python3 perfbench/selftest.py

The same seed must give byte-identical tables and rm_api request streams;
a different seed must give different ones. Exits non-zero on failure."""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _tables(root: str, tag: str, seed: int, size: tuple) -> dict:
    out = os.path.join(root, tag)
    gen.write_tables(out, seed, *size)
    blobs = {}
    for t in gen.TABLES:
        with open(os.path.join(out, f"{t}.parquet"), "rb") as f:
            blobs[t] = f.read()
    return blobs


def main() -> int:
    root = os.path.join(os.path.dirname(HERE), ".perfbench-tmp",
                        f"selftest-{os.getpid()}")
    problems = []
    try:
        for workload, size in gen.SIZES.items():
            a = _tables(root, f"{workload}-a", 11, size)
            b = _tables(root, f"{workload}-b", 11, size)
            c = _tables(root, f"{workload}-c", 12, size)
            same = [t for t in gen.TABLES if a[t] != b[t]]
            if same:
                problems.append(f"{workload}: seed 11 twice differs in {same}")
            # region and nation are fixed dimension tables
            varied = [t for t in gen.TABLES
                      if t not in ("region", "nation") and a[t] == c[t]]
            if varied:
                problems.append(f"{workload}: seeds 11 and 12 agree on {varied}")
    finally:
        shutil.rmtree(root, ignore_errors=True)
        parent = os.path.dirname(root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    if gen.stream_digest(11, 4) != gen.stream_digest(11, 4):
        problems.append("rm_api: seed 11 twice gives different requests")
    if gen.stream_digest(11, 4) == gen.stream_digest(12, 4):
        problems.append("rm_api: seeds 11 and 12 give the same requests")
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
