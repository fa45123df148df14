"""Exact, untimed counts of a persisted serving index, read from parquet
metadata and two small columns of ``postings_comp``.

Whole-index counts feed the ``index.*`` layer metrics; :class:`TermRows`
answers, for a query's terms, how many row groups a term-filtered read
must touch, how many (term, chunk) rows match and how many postings
those rows hold (Σ ``df_chunk``).
"""

from __future__ import annotations

import bisect
import glob
import os

import pyarrow.parquet as pq

TABLES = ("postings_comp", "postings_raw", "dictionary", "doc_stats")


def _parquet_files(table_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(table_dir, "*.parquet")))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path) for f in fs
    )


def whole_index(paths: list[str], chunk_bits: int) -> dict:
    """Counts summed over the serving indexes at ``paths``."""
    out = {"index.chunk_bits": float(chunk_bits), "index.postings": 0.0,
           "index.rows": 0.0, "index.files": 0.0, "index.row_groups": 0.0}
    for t in TABLES:
        out[f"index.bytes.{t}"] = 0.0
    for p in paths:
        for t in TABLES:
            out[f"index.bytes.{t}"] += dir_bytes(os.path.join(p, t))
        for f in _parquet_files(os.path.join(p, "postings_comp")):
            md = pq.ParquetFile(f).metadata
            out["index.files"] += 1
            out["index.row_groups"] += md.num_row_groups
            out["index.rows"] += md.num_rows
        out["index.postings"] += postings(p)
    return out


def postings(path: str) -> float:
    """Σ ``df_chunk`` over the index's chunk rows."""
    df = pq.read_table(os.path.join(path, "postings_comp"),
                       columns=["df_chunk"])
    return float(df.column("df_chunk").to_numpy().sum())


def bytes_per_posting(paths: list[str]) -> float:
    """On-disk bytes of the whole index directories over their postings."""
    total = sum(dir_bytes(p) for p in paths)
    return total / max(sum(postings(p) for p in paths), 1.0)


class TermRows:
    """Per-term (rows, postings) and per-row-group term ranges of the
    ``postings_comp`` tables of one or more indexes."""

    def __init__(self, paths: list[str]):
        self.rows: dict[str, int] = {}
        self.postings: dict[str, int] = {}
        self.ranges: list[tuple[str, str]] = []
        for p in paths:
            comp = os.path.join(p, "postings_comp")
            tbl = pq.read_table(comp, columns=["term", "df_chunk"]).to_pandas()
            g = tbl.groupby("term")["df_chunk"].agg(["size", "sum"])
            for term, size, total in zip(g.index, g["size"], g["sum"]):
                self.rows[term] = self.rows.get(term, 0) + int(size)
                self.postings[term] = self.postings.get(term, 0) + int(total)
            for f in _parquet_files(comp):
                md = pq.ParquetFile(f).metadata
                col = md.schema.names.index("term")
                for i in range(md.num_row_groups):
                    st = md.row_group(i).column(col).statistics
                    if st is None or not st.has_min_max:
                        self.ranges.append(("", "\U0010ffff"))
                    else:
                        self.ranges.append((st.min, st.max))

    def query(self, terms: list[str]) -> tuple[int, int, int]:
        """(row groups touched, rows matched, postings matched)."""
        ts = sorted(set(terms))
        touched = 0
        for lo, hi in self.ranges:
            i = bisect.bisect_left(ts, lo)
            if i < len(ts) and ts[i] <= hi:
                touched += 1
        rows = sum(self.rows.get(t, 0) for t in ts)
        postings = sum(self.postings.get(t, 0) for t in ts)
        return touched, rows, postings
