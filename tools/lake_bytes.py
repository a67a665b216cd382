#!/usr/bin/env python3
"""Bytes and file counts of a lake directory, by kind of file.

Usage: lake_bytes.py [--check] <root>...

Walks each root (a versioned table, a repo or any directory holding them)
and sorts every file into one kind:

  data parquet (<codec>)  table data, split by the footer's column codec
                          (`empty` for a file with no row groups, `mixed`
                          when its column chunks differ)
  dv parquet              legacy table-level deletion vectors
                          (`<branch>-v<N>-dv-<id>/` dirs)
  dv bin                  per-file deletion vectors (`deletion_vector_*.bin`)
  cdc parquet             Delta-export change data (`_change_data/`)
  checkpoint parquet      Delta-export checkpoints (`_delta_log/`)
  manifest                commit-metadata manifests (`.manifest`)
  commit json             commit records and Delta log entries (`.json`)
  bloom                   bloom index sidecars (`.bloom`)
  crc                     Hadoop checksum sidecars of a present file
  orphan crc              checksum sidecars whose file is gone
  _SUCCESS                job-commit markers
  other                   everything else (refs, locks)
  empty dir               directories holding nothing (0 bytes each), such
                          as commit directories a vacuum emptied

Each root is resolved to its real path and surveyed once, however often it
is named; a root inside another root is refused (its files would count
twice in the total). Prints one table per root and, for several roots,
their total. Below each
table, the data parquet files per commit directory (`<branch>-v<N>-<id>/`,
one per write) as a max and a mean, so a statement that scatters its rows
over many tiny files shows up. `--check`
exits 1 when any root holds a snappy data parquet file, a `_SUCCESS` marker,
a checksum sidecar (`crc` or `orphan crc`; the engine writes none) or an
empty directory.
Needs only pyarrow.
"""
import os
import re
import sys
from collections import defaultdict

import pyarrow.parquet as pq

DV_DIR = re.compile(r"-v\d+-dv-")
COMMIT_DIR = re.compile(r"-v\d+-")


def parquet_codec(path):
    meta = pq.ParquetFile(path).metadata
    codecs = {meta.row_group(g).column(c).compression
              for g in range(meta.num_row_groups) for c in range(meta.num_columns)}
    if not codecs:
        return "empty"
    return codecs.pop().lower() if len(codecs) == 1 else "mixed"


def kind_of(dirpath, name):
    if name == "_SUCCESS":
        return "_SUCCESS"
    if name.startswith(".") and name.endswith(".crc"):
        present = os.path.exists(os.path.join(dirpath, name[1:-len(".crc")]))
        return "crc" if present else "orphan crc"
    parts = dirpath.split(os.sep)
    if name.endswith(".parquet"):
        if "_change_data" in parts:
            return "cdc parquet"
        if "_delta_log" in parts:
            return "checkpoint parquet"
        if DV_DIR.search(os.path.basename(dirpath)):
            return "dv parquet"
        return f"data parquet ({parquet_codec(os.path.join(dirpath, name))})"
    if name.startswith("deletion_vector_") and name.endswith(".bin"):
        return "dv bin"
    for ext, kind in ((".manifest", "manifest"), (".json", "commit json"),
                      (".bloom", "bloom")):
        if name.endswith(ext):
            return kind
    return "other"


def survey(root):
    """({kind: [files, bytes]} over every regular file and every empty
    directory under `root`, [data parquet files of each commit directory])."""
    out = defaultdict(lambda: [0, 0])
    per_commit = []
    for dirpath, dirnames, names in os.walk(root):
        if not dirnames and not names and dirpath != root:
            out["empty dir"][0] += 1
        data = 0
        for name in names:
            path = os.path.join(dirpath, name)
            if os.path.isfile(path) and not os.path.islink(path):
                kind = kind_of(dirpath, name)
                data += kind.startswith("data parquet")
                k = out[kind]
                k[0] += 1
                k[1] += os.path.getsize(path)
        base = os.path.basename(dirpath)
        if COMMIT_DIR.search(base) and not DV_DIR.search(base) and data:
            per_commit.append(data)
    return dict(out), per_commit


def print_table(title, kinds, per_commit):
    print(title)
    print(f"  {'kind':<26}{'files':>8}{'bytes':>14}")
    for k in sorted(kinds):
        print(f"  {k:<26}{kinds[k][0]:>8}{kinds[k][1]:>14,}")
    print(f"  {'all':<26}{sum(v[0] for v in kinds.values()):>8}"
          f"{sum(v[1] for v in kinds.values()):>14,}")
    if per_commit:
        print(f"  data files per commit dir: max {max(per_commit)}, "
              f"mean {sum(per_commit) / len(per_commit):.2f} over {len(per_commit)} dirs")


def main(argv):
    flags = {a for a in argv if a.startswith("--")}
    roots = list(dict.fromkeys(os.path.realpath(a) for a in argv if not a.startswith("--")))
    if not roots or flags - {"--check"}:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    nested = [(a, b) for a in roots for b in roots
              if a != b and os.path.commonpath([a, b]) == b]
    if nested:
        print("refusing nested roots: " + ", ".join(f"{a} is inside {b}" for a, b in nested),
              file=sys.stderr)
        return 2
    per_root = {r: survey(r) for r in roots}
    total = defaultdict(lambda: [0, 0])
    total_commit = []
    for kinds, per_commit in per_root.values():
        for k, (n, b) in kinds.items():
            total[k][0] += n
            total[k][1] += b
        total_commit += per_commit
    for r, (kinds, per_commit) in per_root.items():
        print_table(r, kinds, per_commit)
    if len(roots) > 1:
        print_table("total", total, total_commit)
    bad = {k: v for k, v in total.items()
           if k in ("data parquet (snappy)", "_SUCCESS", "crc", "orphan crc", "empty dir")}
    if "--check" in flags and bad:
        print("check failed: " + ", ".join(f"{k} x{v[0]}" for k, v in sorted(bad.items())),
              file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
