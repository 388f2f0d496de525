"""etl_mixed: upserts and reads against one keyed table, closed loop.

A seeded star schema (a Zipf-skewed ``sales`` fact table plus ``customer``
and ``product`` dims) is loaded into a ``storage.KeyedParquetTable``.  Each
cycle upserts one seeded change batch through ``Sinks.map_with_merging``
and then runs five read jobs over the table: four through the ``Pipeline``
façade (keyed aggregate, broadcast hash-join enrichment, tumbling window,
sorted top-N) and one ``JetSqlEngine`` join + group SELECT.  Every read is
compared with DuckDB over a mirror of the table to which the same upserts
are applied.
"""

from __future__ import annotations

import calendar
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import median, percentile
from spans import Tracer

N_FACT = 50_000
N_CUST = 20_000
N_PROD = 2_000
N_STORE = 50
ZIPF_S = 1.1
CHANGE_ROWS = 500
CHANGE_NEW_SHARE = 0.2
NUM_BUCKETS = 16
BASE_TS = 1_704_067_200  # 2024-01-01T00:00:00Z
SPAN_S = 30 * 86_400
WINDOW_S = 6 * 3600
TOP_N = 20
SEGMENTS = ["consumer", "corporate", "home_office", "small_biz", "public"]
REGIONS = ["north", "south", "east", "west", "central", "coast", "mountain", "islands"]
READS = ("q_group", "q_join", "q_window", "q_topn", "q_sql")
#: a run measures at least this many cycles, however long they take
MIN_CYCLES = 6

SQL = ("SELECT p.category, c.segment, COUNT(*) AS n, SUM(s.amount_cents) AS amount "
       "FROM sales s JOIN customer c ON s.cust_id = c.cust_id "
       "JOIN product p ON s.prod_id = p.prod_id GROUP BY p.category, c.segment")

MIRROR_SQL = {
    "q_group": "SELECT store_id, count(*), sum(qty), sum(amount_cents), max(amount_cents) "
               "FROM sales GROUP BY store_id",
    "q_join": "SELECT segment, region, count(*), sum(amount_cents) FROM sales "
              "JOIN customer USING (cust_id) GROUP BY segment, region",
    "q_window": f"SELECT CAST(floor(epoch(ts) / {WINDOW_S}) * {WINDOW_S} AS BIGINT) AS w, "
                f"count(*), sum(amount_cents) FROM sales GROUP BY w",
    "q_topn": f"SELECT cust_id, sum(amount_cents) AS amount, count(*) FROM sales "
              f"GROUP BY cust_id ORDER BY amount DESC, cust_id LIMIT {TOP_N}",
    "q_sql": "SELECT p.category, c.segment, count(*), sum(s.amount_cents) FROM sales s "
             "JOIN customer c ON s.cust_id = c.cust_id JOIN product p ON s.prod_id = p.prod_id "
             "GROUP BY p.category, c.segment",
}


def _epoch(v):
    return calendar.timegm(v.timetuple()) if hasattr(v, "timetuple") else v


def _norm(rows, ordered: bool) -> list[tuple]:
    out = [tuple(x if isinstance(x, str) else int(_epoch(x)) for x in r) for r in rows]
    return out if ordered else sorted(out)


class EtlMixed:
    name = "etl_mixed"

    def __init__(self, ws, seed: int, tracer: Tracer):
        self.ws, self.seed, self.tr = ws, seed, tracer
        self.fact = ws.path("data", "sales.parquet")
        self.cust = ws.path("data", "customer.parquet")
        self.prod = ws.path("data", "product.parquet")
        self.table = ws.path("data", "sales_table")
        self.prices = None
        self.next_id = N_FACT
        self.batch_no = 0
        self.mirror = None

    # -- inputs ----------------------------------------------------------

    def generate(self) -> None:
        rng = np.random.default_rng([self.seed, 1])
        w = 1.0 / np.arange(1, N_CUST + 1) ** ZIPF_S
        self.cust_p = w / w.sum()
        self.cust_perm = rng.permutation(N_CUST).astype(np.int32)
        self.prices = rng.integers(100, 20_000, N_PROD).astype(np.int64)
        pq.write_table(pa.table({
            "cust_id": pa.array(np.arange(N_CUST, dtype=np.int32)),
            "segment": pa.array([SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), N_CUST)]),
            "region": pa.array([REGIONS[i] for i in rng.integers(0, len(REGIONS), N_CUST)]),
        }), self.cust)
        pq.write_table(pa.table({
            "prod_id": pa.array(np.arange(N_PROD, dtype=np.int32)),
            "category": pa.array([f"cat{i:02d}" for i in rng.integers(0, 20, N_PROD)]),
            "brand": pa.array([f"brand{i:03d}" for i in rng.integers(0, 100, N_PROD)]),
        }), self.prod)
        pq.write_table(self._rows(rng, np.arange(N_FACT, dtype=np.int64)), self.fact)
        self.rng = np.random.default_rng([self.seed, 2])

    def _rows(self, rng, ids) -> pa.Table:
        n = len(ids)
        cust = self.cust_perm[rng.choice(N_CUST, n, p=self.cust_p)]
        prod = rng.integers(0, N_PROD, n).astype(np.int32)
        qty = rng.integers(1, 11, n).astype(np.int32)
        ts = BASE_TS + rng.integers(0, SPAN_S, n)
        return pa.table({
            "sale_id": pa.array(ids, pa.int64()),
            "cust_id": pa.array(cust, pa.int32()),
            "prod_id": pa.array(prod, pa.int32()),
            "store_id": pa.array(rng.integers(0, N_STORE, n).astype(np.int32)),
            "qty": pa.array(qty),
            "amount_cents": pa.array(qty.astype(np.int64) * self.prices[prod]),
            "ts": pa.array((ts * 1_000_000).astype("datetime64[us]")),
        })

    def _change_batch(self) -> str:
        """Write the next seeded change batch: updates of existing sale ids
        plus new ids.  Returns its path."""
        rng = self.rng
        n_new = int(CHANGE_ROWS * CHANGE_NEW_SHARE)
        upd = rng.choice(self.next_id, CHANGE_ROWS - n_new, replace=False)
        ids = np.concatenate([upd, np.arange(self.next_id, self.next_id + n_new)])
        self.next_id += n_new
        path = self.ws.path("data", f"change-{self.batch_no:05d}.parquet")
        self.batch_no += 1
        pq.write_table(self._rows(rng, ids.astype(np.int64)), path)
        return path

    # -- engine ----------------------------------------------------------

    def setup(self, spark) -> None:
        import shutil

        from hazelcast_jet_spark import Pipeline, Sources
        from hazelcast_jet_spark.sql import JetSqlEngine

        self.spark = spark
        shutil.rmtree(self.table, ignore_errors=True)
        with self.tr.span("storage.load"):
            Pipeline.create(spark).read_from(Sources.map(self.fact)).write_to(self._sink())
        self.sql = JetSqlEngine(spark)
        self.customer = spark.read.parquet(self.cust)
        self.product = spark.read.parquet(self.prod)
        self.customer.createOrReplaceTempView("customer")
        self.product.createOrReplaceTempView("product")

    def warmup(self) -> None:
        for q in READS:
            self._read(q)
        self.warm_change = self._change_batch()
        self._upsert(self.warm_change)

    def _sink(self):
        from pyspark.sql import functions as F

        from hazelcast_jet_spark import Sinks

        def merge(cur, new):
            c = cur.select("sale_id", F.col("qty").alias("c_qty"),
                           F.col("amount_cents").alias("c_amt"))
            j = new.join(c, "sale_id", "left")
            return j.select(
                "sale_id", "cust_id", "prod_id", "store_id",
                (F.coalesce("c_qty", F.lit(0)) + F.col("qty")).cast("int").alias("qty"),
                (F.coalesce("c_amt", F.lit(0)) + F.col("amount_cents")).alias("amount_cents"),
                "ts")
        return Sinks.map_with_merging(self.table, ["sale_id"], merge, num_buckets=NUM_BUCKETS)

    def _upsert(self, change_path: str) -> float:
        from hazelcast_jet_spark import Pipeline, Sources

        t0 = time.perf_counter()
        with self.tr.span("bench.upsert", op=True):
            with self.tr.span("pipeline.build"):
                with self.tr.span("sources.map"):
                    stage = Pipeline.create(self.spark).read_from(Sources.map(change_path))
            with self.tr.span("storage.upsert"):
                stage.write_to(self._sink())
        return time.perf_counter() - t0

    def _read(self, q: str):
        from pyspark.sql import functions as F

        from hazelcast_jet_spark import AggregateOperations as A
        from hazelcast_jet_spark import Pipeline, Sinks, WindowDefinition
        from hazelcast_jet_spark.storage import KeyedParquetTable

        tr = self.tr
        t0 = time.perf_counter()
        with tr.span(f"bench.{q}", op=True):
            with tr.span("storage.read"):
                sales = KeyedParquetTable(self.table, ["sale_id"], NUM_BUCKETS).read(self.spark)
            if q == "q_sql":
                sales.createOrReplaceTempView("sales")
                with tr.span("sql.statement"):
                    df = self.sql.sql(SQL)
                with tr.span("sinks.write"):
                    rows = df.collect()
            else:
                with tr.span("pipeline.build"):
                    st = Pipeline.create(self.spark).read_from(sales)
                    if q == "q_group":
                        st = st.grouping_key("store_id").aggregate(
                            n=A.counting(), qty=A.summing("qty"),
                            amount=A.summing("amount_cents"), top=A.max_of("amount_cents"))
                    elif q == "q_join":
                        st = (st.hash_join(self.customer, "cust_id", "inner")
                              .grouping_key("segment", "region")
                              .aggregate(n=A.counting(), amount=A.summing("amount_cents")))
                    elif q == "q_window":
                        st = (st.add_timestamps("ts")
                              .window(WindowDefinition.tumbling(f"{WINDOW_S // 3600} hours"))
                              .aggregate(n=A.counting(), amount=A.summing("amount_cents"))
                              .map("window_start", "n", "amount"))
                    else:
                        st = (st.grouping_key("cust_id")
                              .aggregate(amount=A.summing("amount_cents"), n=A.counting())
                              .sort(F.col("amount").desc(), F.col("cust_id"))
                              .custom_transform(lambda d: d.limit(TOP_N)))
                    df = st.df
                with tr.span("sinks.write"):
                    rows = st.write_to(Sinks.observable())
        dt = time.perf_counter() - t0
        tr.record_query(df)
        return dt, rows

    # -- mirror ----------------------------------------------------------

    def start_mirror(self) -> None:
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE TABLE sales AS SELECT * FROM read_parquet('{self.fact}')")
        con.execute(f"CREATE TABLE customer AS SELECT * FROM read_parquet('{self.cust}')")
        con.execute(f"CREATE TABLE product AS SELECT * FROM read_parquet('{self.prod}')")
        self.mirror = con
        self._mirror_upsert(self.warm_change)

    def _mirror_upsert(self, path: str) -> None:
        con = self.mirror
        con.execute(f"CREATE OR REPLACE TEMP TABLE chg AS SELECT * FROM read_parquet('{path}')")
        con.execute(
            "UPDATE sales SET qty = sales.qty + chg.qty, "
            "amount_cents = sales.amount_cents + chg.amount_cents, cust_id = chg.cust_id, "
            "prod_id = chg.prod_id, store_id = chg.store_id, ts = chg.ts "
            "FROM chg WHERE sales.sale_id = chg.sale_id")
        con.execute("INSERT INTO sales SELECT * FROM chg WHERE sale_id NOT IN (SELECT sale_id FROM sales)")

    def check(self, q: str, rows) -> bool:
        with self.tr.span("check.duckdb"):
            want = self.mirror.execute(MIRROR_SQL[q]).fetchall()
            return _norm(rows, q == "q_topn") == _norm(want, q == "q_topn")

    def rows_in_table(self) -> int:
        return self.mirror.execute("SELECT count(*) FROM sales").fetchone()[0]

    # -- measurement -----------------------------------------------------

    def run(self, seconds: float) -> dict:
        self.start_mirror()
        reads, upserts, failed, attempted, scanned = [], [], 0, 0, 0
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or len(upserts) < MIN_CYCLES:
            path = self._change_batch()
            before = self._table_files() if self.tr.enabled else None
            upserts.append(self._upsert(path))
            if before is not None:
                self._count_writes(before)
            attempted += 1
            with self.tr.span("check.mirror_upsert"):
                self._mirror_upsert(path)
            n_rows = self.rows_in_table()
            for q in READS:
                dt, rows = self._read(q)
                attempted += 1
                reads.append(dt)
                scanned += n_rows
                if not self.check(q, rows):
                    failed += 1
        return {
            "attempted": attempted,
            "failed": failed,
            "op": reads,
            "op2": upserts,
            "rows_per_s": scanned / sum(reads),
            "named": {
                "query_s_p50": (median(reads), "s"),
                "query_s_p90": (percentile(reads, 90), "s"),
                "upsert_s_p50": (median(upserts), "s"),
            },
        }

    # -- per-layer -------------------------------------------------------

    def _table_files(self) -> dict[str, int]:
        out = {}
        for d, _, files in os.walk(self.table):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(d, f)
                    out[p] = os.path.getsize(p)
        return out

    def _count_writes(self, before: dict[str, int]) -> None:
        new = {p: n for p, n in self._table_files().items() if p not in before}
        self.tr.count("storage.upserts")
        self.tr.count("storage.files_written", len(new))
        self.tr.count("storage.bytes_written", sum(new.values()))
        self.tr.count("storage.buckets_touched", len({os.path.dirname(p) for p in new}))

    def layer_metrics(self) -> dict[str, float]:
        tr = self.tr
        n = max(1.0, tr.counters.get("storage.upserts", 0.0))
        reads = [f"bench.{q}" for q in READS]
        return {
            "pipeline.build_ms": tr.median_ms("pipeline.build", under=reads),
            "sql.statement_ms": tr.median_ms("sql.statement"),
            "sinks.write_ms": tr.median_ms("sinks.write"),
            "storage.read_ms": tr.median_ms("storage.read"),
            "storage.upsert_ms": tr.median_ms("storage.upsert"),
            "storage.buckets_touched": tr.counters.get("storage.buckets_touched", 0.0) / n,
            "storage.files_written": tr.counters.get("storage.files_written", 0.0) / n,
            "storage.bytes_written": tr.counters.get("storage.bytes_written", 0.0) / n,
            # one writer, so a commit conflict would be a failure, not a retry
            "storage.commit_retries": 0.0,
        }

    def close(self) -> None:
        if self.mirror is not None:
            self.mirror.close()
