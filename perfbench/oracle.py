"""The board workload's check: each row's Spark result against DuckDB
running the row's oracle SQL over the same fixture, cell-exact and
order-insensitive (columns sorted by name, rows sorted by value), with the
cell normalisation the repository's correctness gate uses.

Oracle answers depend only on the SQL text and the fixture, so they are
cached under the benchmark's cache directory, keyed by both.
"""
import hashlib
import math
import os
import pickle

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    import numpy as np
    if isinstance(v, np.integer):
        v = int(v)
    elif isinstance(v, np.floating):
        v = float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def frame_key(df):
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(v) for v in row)
            for row in df[cols].itertuples(index=False, name=None)]
    rows.sort()
    return cols, rows


def compare(got, want):
    """None when the frames match, else a one-line reason."""
    gc, gr = got
    wc, wr = want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            return f"sorted row {i}: {a} != {b}"
    return None


def connect(sf_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def fixture_id(sf_dir):
    parts = []
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            st = os.stat(p)
            parts.append(f"{t}:{st.st_size}:{int(st.st_mtime)}")
    return os.path.abspath(sf_dir) + "|" + ",".join(parts)


class Oracle:
    def __init__(self, sf_dir, cache_dir):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.fixture = fixture_id(sf_dir)
        self._con = None

    def con(self):
        if self._con is None:
            self._con = connect(self.sf_dir)
        return self._con

    def answer(self, sql):
        key = hashlib.sha256((self.fixture + "\n" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        ans = frame_key(self.con().sql(sql).df())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            pickle.dump(ans, f)
        os.replace(tmp, path)
        return ans

    def spark_result(self, result_dir):
        return frame_key(self.con().sql(
            f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").df())

    def check(self, sql, result_dir):
        try:
            got = self.spark_result(result_dir)
        except Exception as e:  # an unreadable result is a failed row
            return f"spark result unreadable: {str(e)[:200]}"
        return compare(got, self.answer(sql))
