"""The CDC target table both workloads write: schema, seeded rows, key
sampling, the pure-Python last-write-wins model and the row digest.

Seeded rows are a closed-form function of ``(id, seed)`` so the model can
recompute any of them without storing the table. The digest is an
order-insensitive (row count, sum of 48-bit md5 prefixes) pair over one
canonical string per row; :func:`spark_digest` computes the same pair on
the engine side, so a snapshot is checked without collecting it.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np

KEY = "id"
SEED_MOD = 1_000_003  # keeps the closed-form arithmetic inside bigint
WORDS = (
    "alpha", "bravo", "cargo", "delta", "ember", "fjord", "gamma", "harbor",
    "ivory", "jolly", "karma", "lunar", "mango", "nylon", "orbit", "pixel",
)


def schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("qty", T.IntegerType(), True),
            T.StructField("score", T.DoubleType(), True),
            T.StructField("note", T.StringType(), True),
        ]
    )


def seed_row(k: int, seed: int) -> dict:
    """Row ``k`` of the seeded table (mirrors :func:`seed_frame`)."""
    seed %= SEED_MOD
    return {
        "id": k,
        "name": f"c{(k * 7919 + seed) % 100003}",
        "qty": (k * 31 + seed) % 1000,
        "score": ((k * 131 + seed) % 40000) / 4.0,
        "note": f"{WORDS[(k + seed) % 16]} {WORDS[(k * 3 + seed) % 16]} {k % 97}",
    }


def seed_frame(spark, rows: int, seed: int):
    """The seeded table as a Spark frame (same values as :func:`seed_row`)."""
    from pyspark.sql import functions as F

    seed %= SEED_MOD
    k = F.col("id")
    words = F.array(*[F.lit(w) for w in WORDS])

    def word(expr):
        return F.element_at(words, (expr % 16 + 1).cast("int"))

    return spark.range(rows).select(
        k.alias("id"),
        F.concat(F.lit("c"), ((k * 7919 + seed) % 100003).cast("string")).alias("name"),
        ((k * 31 + seed) % 1000).cast("int").alias("qty"),
        (((k * 131 + seed) % 40000) / 4.0).alias("score"),
        F.concat_ws(" ", word(k + seed), word(k * 3 + seed), (k % 97).cast("string")).alias("note"),
    )


def new_rows(keys, rng: np.random.Generator) -> list[dict]:
    """Fresh after-images for ``keys``; ``score`` stays a multiple of 0.25
    so its canonical form is exact on both sides."""
    n = len(keys)
    name, qty, score = (rng.integers(0, hi, size=n).tolist() for hi in (100003, 1000, 40000))
    w1, w2, tail = (rng.integers(0, hi, size=n).tolist() for hi in (16, 16, 97))
    return [
        {
            "id": int(k),
            "name": f"u{name[i]}",
            "qty": qty[i],
            "score": score[i] / 4.0,
            "note": f"{WORDS[w1[i]]} {WORDS[w2[i]]} {tail[i]}",
        }
        for i, k in enumerate(keys)
    ]


class ZipfKeys:
    """Bounded Zipf(s) over ``n`` keys; ranks map to keys through a seeded
    permutation so hot keys are spread over the whole key range."""

    def __init__(self, n: int, rng: np.random.Generator, s: float = 1.1):
        weights = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
        self.cdf = np.cumsum(weights) / weights.sum()
        self.perm = rng.permutation(n)
        self.rng = rng

    def sample(self, size: int) -> np.ndarray:
        ranks = np.searchsorted(self.cdf, self.rng.random(size), side="right")
        return self.perm[np.minimum(ranks, len(self.perm) - 1)]


def op_stream(mix: dict[str, int], rng: np.random.Generator):
    """Endless operations in blocks of ``sum(mix)`` that each hold the mix
    exactly, shuffled within the block (keeps short runs on-mix)."""
    block = [op for op, count in mix.items() for _ in range(count)]
    while True:
        yield from rng.permutation(block).tolist()


def canonical(row: dict) -> str:
    return "|".join(
        (str(row["id"]), row["name"], str(row["qty"]), str(int(row["score"] * 4)), row["note"])
    )


def row_hash(row: dict) -> int:
    return int(hashlib.md5(canonical(row).encode()).hexdigest()[:12], 16)


class LwwModel:
    """Last-write-wins state over the seeded table: only touched keys are
    stored (``None`` = deleted); untouched keys are recomputed."""

    def __init__(self, seeded_rows: int, seed: int):
        self.seeded_rows = seeded_rows
        self.seed = seed
        self.touched: dict[int, dict | None] = {}

    def upsert(self, row: dict) -> None:
        self.touched[row["id"]] = row

    def delete(self, k: int) -> None:
        self.touched[k] = None

    def get(self, k: int) -> dict | None:
        if k in self.touched:
            return self.touched[k]
        return seed_row(k, self.seed) if 0 <= k < self.seeded_rows else None

    def count(self) -> int:
        n = self.seeded_rows
        for k, row in self.touched.items():
            n += (row is not None) - (0 <= k < self.seeded_rows)
        return n

    def digest(self) -> tuple[int, int]:
        """(rows, hash sum) of the modelled snapshot."""
        total = 0
        for k in range(self.seeded_rows):
            if k not in self.touched:
                total += row_hash(seed_row(k, self.seed))
        total += sum(row_hash(r) for r in self.touched.values() if r is not None)
        return self.count(), total


def spark_digest(df) -> tuple[int, int]:
    """Engine-side twin of :meth:`LwwModel.digest` (one aggregate job)."""
    from pyspark.sql import functions as F

    line = F.concat_ws(
        "|",
        F.col("id").cast("string"),
        F.col("name"),
        F.col("qty").cast("string"),
        (F.col("score") * 4).cast("bigint").cast("string"),
        F.col("note"),
    )
    h = F.conv(F.substring(F.md5(line), 1, 12), 16, 10).cast("decimal(38,0)")
    got = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(got["n"]), int(got["h"] or 0)


def rows_equal(got, want: dict | None) -> bool:
    """One looked-up Spark row (or None) against the model's row."""
    if want is None or got is None:
        return want is None and got is None
    return canonical(got.asDict()) == canonical(want)


def read_probe(wh, table: str, keys, model: LwwModel) -> tuple[list[float], list[str]]:
    """The fixed read probe through ``ParquetWarehouse.read``: a count, one
    point lookup per key and a group-by, each a separate read request,
    checked against the model. Returns (seconds per request, problems)."""
    from pyspark.sql import functions as F

    seconds = []

    def timed(action):
        t = time.perf_counter()
        out = action()
        seconds.append(time.perf_counter() - t)
        return out

    n = timed(lambda: wh.read(table).count())
    found = [
        timed(lambda k=k: wh.read(table).filter(F.col(KEY) == int(k)).collect())
        for k in keys
    ]
    groups = timed(
        lambda: wh.read(table)
        .groupBy((F.col("qty") % 10).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("qty").alias("qty"))
        .collect()
    )
    want = model.count()
    problems = []
    if n != want:
        problems.append(f"probe count {n} != model {want}")
    if sum(g["n"] for g in groups) != want:
        problems.append(f"probe group-by rows {sum(g['n'] for g in groups)} != model {want}")
    for k, rows in zip(keys, found):
        if len(rows) > 1 or not rows_equal(rows[0] if rows else None, model.get(int(k))):
            problems.append(f"probe lookup of key {int(k)} disagrees with model: {rows}")
    return seconds, problems


def read_log(table_dir: str) -> list[str]:
    """The table's commit log: one version directory per commit."""
    with open(os.path.join(table_dir, "LOG")) as fh:
        return [ln.strip() for ln in fh if ln.strip()]


def _files(version_dir: str) -> dict[tuple[int, int], tuple[str, int]]:
    out = {}
    for dirpath, _dirs, files in os.walk(version_dir):
        for name in files:
            path = os.path.join(dirpath, name)
            st = os.stat(path)
            out[(st.st_dev, st.st_ino)] = (path, st.st_size)
    return out


def version_stats(table_dir: str, log: list[str], start: int, end: int) -> dict:
    """Counters of the commits ``log[start:end]``, each against the version
    before it: parquet files hardlinked from it and written new, rows and
    bytes of the new ones, disk growth (every new file, each inode once)
    and the data files of the last version."""
    import pyarrow.parquet as pq

    stats = dict.fromkeys(("linked", "written", "bytes", "rows", "grown"), 0)
    stats["commits"] = end - start
    prev = _files(os.path.join(table_dir, log[start - 1])) if start > 0 else {}
    cur = prev
    for version in log[start:end]:
        cur = _files(os.path.join(table_dir, version))
        for inode, (path, size) in cur.items():
            parquet = path.endswith(".parquet")
            if inode in prev:
                stats["linked"] += parquet
                continue
            stats["grown"] += size
            if parquet:
                stats["written"] += 1
                stats["bytes"] += size
                stats["rows"] += pq.read_metadata(path).num_rows
        prev = cur
    stats["data_files_end"] = sum(
        1 for path, _ in cur.values()
        if path.endswith(".parquet") and os.sep + "_deletes" + os.sep not in path
    )
    return stats
