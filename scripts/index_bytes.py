"""Where an index's bytes go, from its files and parquet footers.

    python scripts/index_bytes.py DIR [DIR2]

For each directory under ``DIR`` (``docs``, ``postings``, ``dict``,
``lineage``, a generation's ``gen=N/docs``, ...) it prints the bytes of
each parquet column (the column chunks' compressed size, page headers
included, summed over row groups and part files) with its codecs and
encodings, the rest of the parquet files (magic and footers), and the
directory's other files (``.crc``, ``_SUCCESS``, ``stats.json``,
``manifest.json``). The total is every file's size, the sum the benchmark
divides by the source bytes for ``index_bytes_per_src_byte``.

With ``DIR2`` it prints both indexes side by side, matched by relative
path and column name, with the change in bytes and, where they differ,
each side's codec and encodings.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq


def scan(root: str) -> dict[str, dict]:
    """relative dir → {"columns": {name: [bytes, codecs, encodings]},
    "parquet_rest": bytes, "other": bytes, "total": bytes}."""
    out: dict[str, dict] = {}
    for d, dirs, files in os.walk(root):
        dirs.sort()
        if not files:
            continue
        g = out.setdefault(os.path.relpath(d, root), {
            "columns": {}, "parquet_rest": 0, "other": 0, "total": 0})
        for name in sorted(files):
            path = os.path.join(d, name)
            size = os.path.getsize(path)
            g["total"] += size
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                g["other"] += size
                continue
            md = pq.ParquetFile(path).metadata
            chunks = 0
            for rg in range(md.num_row_groups):
                for i in range(md.num_columns):
                    c = md.row_group(rg).column(i)
                    col = g["columns"].setdefault(c.path_in_schema, [0, set(), set()])
                    col[0] += c.total_compressed_size
                    col[1].add(c.compression)
                    col[2].update(c.encodings)
                    chunks += c.total_compressed_size
            g["parquet_rest"] += size - chunks
    return out


def _rows(g: dict) -> dict[str, tuple[int, str]]:
    """One directory's lines: label → (bytes, codec and encodings)."""
    rows = {
        f"  {name}": (b, f"{'/'.join(sorted(codecs))} {','.join(sorted(encs))}")
        for name, (b, codecs, encs) in g["columns"].items()
    }
    if g["columns"]:
        rows["  (parquet magic + footers)"] = (g["parquet_rest"], "")
    rows["  (other files)"] = (g["other"], "")
    return rows


def _pct(b: int, total: int) -> str:
    return f"{100.0 * b / total:5.1f}%" if total else "     -"


def report(dirs: list[str]) -> str:
    scans = [scan(d) for d in dirs]
    totals = [sum(g["total"] for g in s.values()) for s in scans]
    keys = sorted(set().union(*scans), key=lambda k: (k != ".", k))
    empty = {"columns": {}, "parquet_rest": 0, "other": 0, "total": 0}
    lines = []
    if len(dirs) == 1:
        lines.append(f"{'':40s} {'bytes':>12s} {'share':>6s}  codec encodings")
    else:
        lines.append(f"{'':40s} {'DIR bytes':>12s} {'DIR2 bytes':>12s} {'change':>8s}"
                     "  codec encodings (DIR -> DIR2 where they differ)")
    for k in keys:
        gs = [s.get(k, empty) for s in scans]
        per = [_rows(g) for g in gs]
        labels = list(dict.fromkeys(lab for p in per for lab in p))
        lines.append(_line(f"{k}/", [(g["total"], "") for g in gs], totals))
        for lab in labels:
            lines.append(_line(lab, [p.get(lab, (0, "")) for p in per], totals))
    lines.append(_line("total", [(t, "") for t in totals], totals))
    return "\n".join(lines)


def _line(label: str, cells: list[tuple[int, str]], totals: list[int]) -> str:
    if len(cells) == 1:
        (b, desc), = cells
        return f"{label:40s} {b:12,d} {_pct(b, totals[0])}  {desc}".rstrip()
    (a, da), (b, db) = cells
    change = f"{100.0 * (b - a) / a:+7.1f}%" if a else f"{'new' if b else '-':>8s}"
    desc = da if da == db else f"{da or '-'} -> {db or '-'}"
    return f"{label:40s} {a:12,d} {b:12,d} {change}  {desc}".rstrip()


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    print(report(argv))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
