#!/usr/bin/env python3
"""Where the bytes of a bucketed sink table's current snapshot go.

Usage: python3 tools/sink_bytes.py <table root>

Reads the table's `_MANIFEST` (data lines `bucket \\t gen-dir \\t ...`),
then the parquet footers of every data file in each mapped bucket dir
(`<root>/<gen-dir>/__bucket=<bucket>/`; names led by `_` or `.` are
sidecars or checksums and are skipped). Prints, per column, the
compressed and uncompressed column-chunk bytes, encodings and codecs,
then the files' footer bytes, total bytes and bytes per stored row.
Deletion-vector files are not data and are not counted.
"""
import os
import sys
from collections import defaultdict

import pyarrow.parquet as pq


def mapped_dirs(root):
    """Data dirs of the snapshot `<root>/_MANIFEST` names, one per bucket."""
    with open(os.path.join(root, "_MANIFEST"), encoding="utf-8") as f:
        lines = [ln.rstrip("\n") for ln in f if ln.strip() and not ln.startswith("#")]
    return [os.path.join(root, gen, f"__bucket={bucket}")
            for bucket, gen, *_ in (ln.split("\t") for ln in lines)]


def data_files(dirs):
    for d in dirs:
        for name in sorted(os.listdir(d)):
            if not name.startswith(("_", ".")):
                yield os.path.join(d, name)


def main(root):
    cols = defaultdict(lambda: {"comp": 0, "uncomp": 0, "enc": set(), "codec": set()})
    files = rows = total = footer = 0
    for path in data_files(mapped_dirs(root)):
        meta = pq.ParquetFile(path).metadata
        files += 1
        rows += meta.num_rows
        total += os.path.getsize(path)
        footer += meta.serialized_size
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            for c in range(rg.num_columns):
                cc = rg.column(c)
                s = cols[cc.path_in_schema]
                s["comp"] += cc.total_compressed_size
                s["uncomp"] += cc.total_uncompressed_size
                s["enc"].update(cc.encodings)
                s["codec"].add(cc.compression)
    per_row = lambda b: b / rows if rows else 0.0
    print(f"{'column':<24} {'compressed':>11} {'B/row':>7} {'uncompressed':>13}  codec  encodings")
    for name, s in sorted(cols.items(), key=lambda kv: -kv[1]["comp"]):
        print(f"{name:<24} {s['comp']:>11} {per_row(s['comp']):>7.2f} {s['uncomp']:>13}  "
              f"{','.join(sorted(s['codec']))}  {','.join(sorted(s['enc']))}")
    print(f"files {files}  rows {rows}  footer_bytes {footer} ({per_row(footer):.2f} B/row)  "
          f"total_bytes {total}  bytes_per_row {per_row(total):.2f}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
