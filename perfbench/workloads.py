"""The benchmark's workloads, driven only through the engine's entry points.

Each workload gives the closed loop in `run.py` a warm-up, passes of ops,
and an output check that runs after the timed region:

* `Ingest` loads seeded synthetic pages (`insights_spark.synth`) into a
  warehouse with `jobs.pipeline.run`: a first batch as warm-up, then
  `resume=True` batches of equal size, one op each. The check compares
  the warehouse with a one-shot run over the same pages.
* `Query` runs registered queries (`__spark_entry__.queries()`) over the
  seeded tables from `tables.py`, one op per query (builder call plus a
  run into a `noop` sink), every pass in the same order. The warm-up
  pass collects every result; the check compares them with each query's
  `oracle_sql()` on DuckDB.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import check

# The paper's query side, spatial and text: point-in-polygon, S2 cells,
# the flagship tile rollup, a certified range join, latest version per
# key, conditional aggregation, a per-row quality kernel and MinHash
# signatures with LSH banding. Few enough that a cold pass plus a timed
# pass fit a short run on 4 cores.
QUERIES = [
    "pip_countries", "s2_cells", "flagship_tile_density", "within_distance",
    "latest_event", "conditional_battery", "quality", "minhash_lsh_pairs",
]

# pages in the first batch, pages per resume batch, most resume batches
INGEST_SIZES = {"bench": (200, 100, 2), "toy": (60, 30, 2)}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Op:
    name: str
    fn: object


@dataclass
class Ingest:
    spark: object
    work: str
    seed: int
    scale: str
    corrupt: bool = False
    done: int = 0  # resume batches committed
    layer = "jobs.pipeline"

    def __post_init__(self):
        self.first, self.size, self.max_batches = INGEST_SIZES[self.scale]
        self.root = os.path.join(self.work, f"ingest-{self.scale}-{self.seed}")
        self.wh = os.path.join(self.root, "warehouse")

    def _pages_dir(self, k: int) -> str:
        return os.path.join(self.root, "pages", f"batch-{k:03d}")

    def prepare(self) -> None:
        """Seeded pages, one parquet file per batch (untimed).

        The rows are those `synth.pages_df_dist` yields, made in this process
        by the per-page generator it maps over a range: on 4 cores the
        distributed path took 11 s for 1,200 pages, this process 1.5 s."""
        from insights_spark import synth
        from insights_spark.schemas import PAGES

        shutil.rmtree(self.root, ignore_errors=True)
        types = {"url": pa.string(), "warc_ts": pa.timestamp("us"),
                 "html": pa.binary(), "text": pa.string(), "lang": pa.string()}
        for k in range(self.max_batches + 1):
            lo = 0 if k == 0 else self.first + (k - 1) * self.size
            hi = self.first + k * self.size
            rows = [synth.gen_page_dist(seq, self.seed) for seq in range(lo, hi)]
            table = pa.table({f.name: pa.array([r[f.name] for r in rows], types[f.name])
                              for f in PAGES.fields})
            os.makedirs(self._pages_dir(k))
            pq.write_table(table, os.path.join(self._pages_dir(k), "pages.parquet"))

    def _pages(self, upto: int):
        return self.spark.read.parquet(*[self._pages_dir(k) for k in range(upto + 1)])

    def _run(self, upto: int, out: str, resume: bool) -> None:
        from insights_spark.jobs import pipeline

        pipeline.run(self.spark, self._pages(upto), out, resume=resume)

    def warmup(self) -> None:
        self._run(0, self.wh, resume=False)

    def passes(self):
        """One pass is one resume batch; stop when the pages run out."""
        while self.done < self.max_batches:
            k = self.done + 1

            def batch(k=k):
                self._run(k, self.wh, resume=True)
                self.done = k

            yield [Op("batch", batch)]

    def check(self) -> list[str]:
        """Warehouse tables equal, as multisets with floats to 1e-9, to a
        one-shot pipeline run over the same pages (cached per seed)."""
        ref = os.path.join(self.work, "ingest-ref",
                           f"{self.scale}-seed{self.seed}-batches{self.done}")
        if not os.path.isfile(os.path.join(ref, "_DONE")):
            shutil.rmtree(ref, ignore_errors=True)
            self._run(self.done, ref, resume=False)
            open(os.path.join(ref, "_DONE"), "w").close()
        errors = []
        tables = sorted(t for t in os.listdir(ref)
                        if not t.startswith("_") and os.path.isdir(os.path.join(ref, t)))
        for i, t in enumerate(tables):
            expected = pq.read_table(os.path.join(ref, t))
            if self.corrupt and i == 0:
                expected = expected.slice(1)
            if not os.path.isdir(os.path.join(self.wh, t)):
                errors.append(f"{t}: missing from the warehouse")
                continue
            why = check.compare(pq.read_table(os.path.join(self.wh, t)), expected, rel=1e-9)
            if why:
                errors.append(f"{t}: {why}")
        return errors

    def report(self) -> dict[str, float]:
        pages = sum(dir_bytes(self._pages_dir(k)) for k in range(self.done + 1))
        return {"pages_per_batch": self.size,
                "stored_bytes_per_input_byte": dir_bytes(self.wh) / pages}


@dataclass
class Query:
    spark: object
    tables: str
    corrupt: bool = False
    trace: object = None
    results: dict = field(default_factory=dict)
    layer = "query"

    def __post_init__(self):
        import __spark_entry__

        self.builders = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    @property
    def root(self) -> str:
        return self.tables

    def prepare(self) -> None:
        pass

    def _build(self, name: str):
        if self.trace is None:
            return self.builders[name](self.spark, self.tables)
        with self.trace.span("__spark_entry__", "entry.build"):
            return self.builders[name](self.spark, self.tables)

    def warmup(self) -> None:
        """One pass in registry order; keeps each result (or the error it
        raised) for the check."""
        for name in QUERIES:
            try:
                self.results[name] = self._build(name).toArrow()
            except Exception as e:  # noqa: BLE001 — reported by check()
                self.results[name] = e

    def passes(self):
        """Every pass runs the queries in registry order, as the warm-up
        did, so every run times the same sequence of plans."""
        while True:
            yield [Op(n, lambda n=n: _force(self._build(n))) for n in QUERIES]

    def check(self) -> list[str]:
        import duckdb

        import __spark_entry__

        con = duckdb.connect()
        try:
            for t in __spark_entry__.TABLES:
                p = os.path.join(self.tables, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            errors = []
            for i, name in enumerate(QUERIES):
                expected = con.execute(self.oracles[name]).arrow()
                if self.corrupt and i == 0:
                    expected = expected.slice(1)
                got = self.results[name]
                why = (f"raised {type(got).__name__}" if isinstance(got, Exception)
                       else check.compare(got, expected))
                if why:
                    errors.append(f"{name}: {why}")
            return errors
        finally:
            con.close()

    def report(self) -> dict[str, float]:
        return {}
