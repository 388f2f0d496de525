"""stream_q5: NEXMark-Q5-shaped sliding-window keyed count, open loop.

Job: ``Pipeline.read_from(Sources.file_watcher(dir, "parquet", schema))
.add_timestamps("ts", "1 seconds").grouping_key("key")
.window(WindowDefinition.sliding("2 seconds", "1 second"))
.aggregate(n=counting(), s=summing("v"))``, written in update mode.

Phases, each on a fresh source directory and checkpoint:

- **drain**: a pre-written backlog of ``BACKLOG_ROWS`` events, run
  availableNow in two steps: the first part, then the rest (moved into the
  source directory after the first step), whose late events fall behind
  the watermark the first step left.  Timed ``DRAINS`` times into a noop
  sink, then run again into a parquet sink and checked, window by window
  and drop by drop, against a numpy reference.
- **live_low** and **live_high**: ``gen_stream.py`` writes events at
  ``LOW_RATE`` and then ``HIGH_RATE`` events/s for ``--seconds`` each
  into a noop sink.  A batch's latency is ``progress.timestamp +
  durationMs.triggerExecution - eventTime.max``: from the creation of the
  newest event it read to the emission of its result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen_stream
from common import median, percentile
from spans import Tracer

BACKLOG_ROWS = 120_000
BACKLOG_FILES = 20
FIRST_STEP_FILES = 14
BACKLOG_SPAN_MS = 20_000
BACKLOG_T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
WARM_ROWS = 4_000
#: timed drains per run; drain throughput is their median
DRAINS = 3
#: live rates in events/s.  HIGH_RATE is set once, at about half the drain
#: capacity (about 48k events/s) measured on a 4-core host.
LOW_RATE = 10_000
HIGH_RATE = 24_000
WINDOW_MS, SLIDE_MS = 2_000, 1_000
#: a run whose generator fell this far behind its schedule is invalid
GEN_LATE_LIMIT_MS = 1_000.0
PHASES = ("addBatch", "walCommit", "commitOffsets", "latestOffset", "queryPlanning", "getBatch")


def _ms(col: pd.Series) -> np.ndarray:
    """Epoch milliseconds of a naive-UTC or tz-aware timestamp column."""
    return pd.to_datetime(col, utc=True).dt.tz_convert(None).to_numpy().astype("datetime64[ms]").astype("int64")


def _iso_ms(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp() * 1000.0


class StreamQ5:
    name = "stream_q5"

    def __init__(self, ws, seed: int, tracer: Tracer):
        self.ws, self.seed, self.tr = ws, seed, tracer
        self.n_dir = 0
        self.gen_late: list[float] = []
        self.live: dict[str, list] = {}

    # -- inputs ----------------------------------------------------------

    def _backlog(self, name: str, rows: int, files: int, seed_tag: int) -> list[str]:
        """Write a backlog into its own hold directory; return file paths in
        order.  mtimes increase with the file number."""
        d = self.ws.path("data", name)
        os.makedirs(d)
        rng = np.random.default_rng([self.seed, seed_tag])
        keys = gen_stream.key_sampler(rng)
        per, step = rows // files, BACKLOG_SPAN_MS // files
        base = time.time() - 3600
        out = []
        for i in range(files):
            t0 = BACKLOG_T0_MS + i * step
            name_i = f"part-{i:06d}.parquet"
            gen_stream.write_atomic(gen_stream.events(rng, keys, per, t0, t0 + step), d, name_i, base + i)
            out.append(os.path.join(d, name_i))
        return out

    def generate(self) -> None:
        self.backlog = self._backlog("backlog", BACKLOG_ROWS, BACKLOG_FILES, 5)
        self.warm = self._backlog("warm", WARM_ROWS, 2, 6)
        self.reference = reference([pq.read_table(p).to_pandas() for p in self.backlog[:FIRST_STEP_FILES]],
                                   [pq.read_table(p).to_pandas() for p in self.backlog[FIRST_STEP_FILES:]])

    # -- engine ----------------------------------------------------------

    def setup(self, spark) -> None:
        from pyspark.sql import types as T

        self.spark = spark
        self.schema = T.StructType([
            T.StructField("key", T.IntegerType()), T.StructField("v", T.LongType()),
            T.StructField("ts", T.TimestampType()), T.StructField("created", T.TimestampType())])

    def warmup(self) -> None:
        self._drain(self.warm, len(self.warm), None)

    def _fresh(self, tag: str) -> tuple[str, str]:
        self.n_dir += 1
        src = self.ws.path("data", f"{tag}-{self.n_dir}-in")
        os.makedirs(src)
        return src, self.ws.path("data", f"{tag}-{self.n_dir}-ck")

    def _job(self, src: str):
        from hazelcast_jet_spark import AggregateOperations as A
        from hazelcast_jet_spark import Pipeline, Sources, WindowDefinition

        return (Pipeline.create(self.spark)
                .read_from(Sources.file_watcher(src, "parquet", self.schema))
                .add_timestamps("ts", f"{gen_stream.LAG_MS // 1000} seconds")
                .grouping_key("key")
                .window(WindowDefinition.sliding(f"{WINDOW_MS // 1000} seconds",
                                                 f"{SLIDE_MS // 1000} second"))
                .aggregate(n=A.counting(), s=A.summing("v"))).df

    def _start(self, df, ck: str, out: str | None, live: bool):
        w = df.writeStream.outputMode("update").option("checkpointLocation", ck)
        if out is None:
            w = w.format("noop")
        else:
            w = w.foreachBatch(lambda b, i: b.write.mode("append").parquet(os.path.join(out, f"b{i:05d}")))
        w = w.trigger(processingTime="0 seconds") if live else w.trigger(availableNow=True)
        return w.start()

    def _drain(self, files: list[str], first_step: int, out: str | None):
        """Run the backlog through the job in two availableNow steps.
        Returns (seconds, progress list)."""
        src, ck = self._fresh("drain")
        for p in files[:first_step]:
            os.link(p, os.path.join(src, os.path.basename(p)))
        progress = []
        t0 = time.perf_counter()
        for step in (0, 1) if first_step < len(files) else (0,):
            if step == 1:
                for p in files[first_step:]:
                    os.link(p, os.path.join(src, os.path.basename(p)))
            q = self._start(self._job(src), ck, out, live=False)
            self.tr.alias_group(str(q.runId), self.tr.current())
            q.awaitTermination()
            progress += q.recentProgress
        return time.perf_counter() - t0, progress

    def _live(self, phase: str, rate: int, seconds: float) -> dict:
        src, ck = self._fresh(phase)
        stats = self.ws.path("data", f"{phase}-gen.json")
        q = self._start(self._job(src), ck, None, live=True)
        start = time.time() + 0.5
        gen = subprocess.Popen([sys.executable, gen_stream.__file__, "--dir", src, "--rate", str(rate),
                                "--seconds", str(seconds), "--seed", str(self.seed),
                                "--start", repr(start), "--stats", stats])
        try:
            gen.wait(timeout=seconds + 30)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        end = start + seconds
        # let the batch that reads the last file finish
        give_up = time.time() + 10
        while time.time() < give_up and q.isActive and (
                q.lastProgress is None or _iso_ms(q.lastProgress.timestamp) < end * 1000):
            time.sleep(0.05)
        progress = list(q.recentProgress)
        # stopping mid-batch aborts its broadcasts; let a running batch end
        while time.time() < give_up + 5 and q.status["isTriggerActive"]:
            time.sleep(0.05)
        q.stop()
        with open(stats) as f:
            g = json.load(f)
        self.gen_late += g["late_ms"]
        batches = [p for p in progress if p.numInputRows > 0
                   and start * 1000 <= _iso_ms(p.timestamp) < end * 1000]
        lat = [_iso_ms(p.timestamp) + p.durationMs["triggerExecution"] - _iso_ms(p.eventTime["max"])
               for p in batches]
        done = sum(p.numInputRows for p in progress
                   if _iso_ms(p.timestamp) + p.durationMs["triggerExecution"] <= end * 1000)
        return {"lat": lat, "batches": batches, "generated": g["rows"], "backlog_end": g["rows"] - done,
                "progress": progress}

    # -- measurement -----------------------------------------------------

    def run(self, seconds: float) -> dict:
        tr = self.tr
        failed, attempted, drains = 0, 0, []
        for _ in range(DRAINS):
            with tr.span("bench.drain", op=True) as span:
                secs, prog = self._drain(self.backlog, FIRST_STEP_FILES, None)
            drains.append(secs)
            self._phase_spans(span, prog)
            attempted += 1
            dropped = sum(s.numRowsDroppedByWatermark for p in prog for s in p.stateOperators)
            failed += 0 if dropped == self.reference["dropped"] else 1
        self.drain_progress = prog

        with tr.span("check.drain_output"):
            out = self.ws.path("data", "drain-out")
            _, prog_c = self._drain(self.backlog, FIRST_STEP_FILES, out)
            attempted += 1
            ok = check_output(out, self.reference) and dropped == sum(
                s.numRowsDroppedByWatermark for p in prog_c for s in p.stateOperators)
            failed += 0 if ok else 1

        for phase, rate in (("live_low", LOW_RATE), ("live_high", HIGH_RATE)):
            with tr.span(f"bench.{phase}") as span:
                self.live[phase] = r = self._live(phase, rate, seconds)
            self._phase_spans(span, r["progress"])
            attempted += 1
            failed += 0 if r["lat"] else 1
        if max(self.gen_late) > GEN_LATE_LIMIT_MS:
            failed += 1
            from common import log
            log(f"generator ran {max(self.gen_late):.0f} ms late: the run is invalid")

        low, high = self.live["live_low"]["lat"], self.live["live_high"]["lat"]
        rows_per_s = BACKLOG_ROWS / median(drains)
        return {
            "attempted": attempted,
            "failed": failed,
            "op": [x / 1000.0 for x in low],
            "op2": [x / 1000.0 for x in high],
            "rows_per_s": rows_per_s,
            "named": {
                "drain_rows_per_s": (rows_per_s, "1/s"),
                "latency_p50_ms": (median(low), "ms"),
                "latency_p90_ms": (percentile(low, 90), "ms"),
                "loaded_latency_p50_ms": (median(high), "ms"),
                "loaded_latency_p90_ms": (percentile(high, 90), "ms"),
            },
        }

    def _phase_spans(self, parent, progress) -> None:
        """Micro-batches as spans: a trigger span per batch whose children are
        its durationMs phases, laid end to end."""
        if parent is None:
            return
        for p in progress:
            t = _iso_ms(p.timestamp) / 1000.0
            trig = self.tr.add_span("streaming.trigger", t, t + p.durationMs.get("triggerExecution", 0) / 1000.0,
                                    parent)
            for ph in PHASES:
                d = p.durationMs.get(ph, 0) / 1000.0
                self.tr.add_span(f"streaming.{ph}", t, t + d, trig)
                t += d

    def layer_metrics(self) -> dict[str, float]:
        from hazelcast_jet_spark.metrics import progress_to_jet_metrics

        low = self.live["live_low"]["batches"]
        jet = [progress_to_jet_metrics(p) for p in self.drain_progress]
        drain_data = [m for m in jet if m["receivedCount"] > 0]

        def med(f):
            v = [f(p) for p in low]
            return median(v) if v else 0.0

        def state(p, field):
            return sum(getattr(s, field) or 0 for s in p.stateOperators)

        out = {
            "streaming.trigger_ms": med(lambda p: p.durationMs.get("triggerExecution", 0)),
            "streaming.add_batch_ms": med(lambda p: p.durationMs.get("addBatch", 0)),
            "streaming.wal_commit_ms": med(lambda p: p.durationMs.get("walCommit", 0)),
            "streaming.commit_offsets_ms": med(lambda p: p.durationMs.get("commitOffsets", 0)),
            "streaming.latest_offset_ms": med(lambda p: p.durationMs.get("latestOffset", 0)),
            "streaming.query_planning_ms": med(lambda p: p.durationMs.get("queryPlanning", 0)),
            "streaming.state_commit_ms": med(lambda p: state(p, "commitTimeMs")),
            "streaming.state_rows": med(lambda p: state(p, "numRowsTotal")),
            "streaming.state_memory_bytes": med(lambda p: state(p, "memoryUsedBytes")),
            "streaming.source_lag_ms": med(lambda p: _iso_ms(p.timestamp) - _iso_ms(p.eventTime["max"])),
            "streaming.rows_per_batch": (sum(m["receivedCount"] for m in drain_data)
                                         / max(1, len(drain_data))),
            "streaming.batches": float(len(jet)),
            "streaming.late_rows_dropped": sum(m["lateEventsDropped"] for m in jet),
            "streaming.backlog_rows_end": float(self.live["live_high"]["backlog_end"]),
            "gen.late_ms_p50": median(self.gen_late),
            "gen.late_ms_max": max(self.gen_late),
        }
        out["streaming.drain_rows_per_s_1cpu"] = self._drain_1cpu()
        return out

    def _drain_1cpu(self) -> float:
        """The drain on a local[1] session: the single-thread baseline."""
        from hazelcast_jet_spark import get_spark

        self.spark.stop()
        cpus = os.environ["SPARK_GRAFT_CPUS"]
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        try:
            self.spark = get_spark("perfbench-stream_q5-1cpu")
            self.spark.sparkContext.setLogLevel("ERROR")
            self.warmup()
            secs, _ = self._drain(self.backlog, FIRST_STEP_FILES, None)
        finally:
            os.environ["SPARK_GRAFT_CPUS"] = cpus
            self.spark.stop()
        return BACKLOG_ROWS / secs

    def close(self) -> None:
        pass


# -- reference -------------------------------------------------------------

def _windows(df: pd.DataFrame) -> pd.DataFrame:
    """One row per (event, sliding window containing it)."""
    ts = _ms(df["ts"])
    first = ts - ts % SLIDE_MS
    parts = []
    for k in range(WINDOW_MS // SLIDE_MS):
        parts.append(pd.DataFrame({"key": df["key"].to_numpy(), "v": df["v"].to_numpy(),
                                   "start": first - k * SLIDE_MS}))
    return pd.concat(parts, ignore_index=True)


def reference(step1: list[pd.DataFrame], step2: list[pd.DataFrame]) -> dict:
    """Final (key, window) counts and sums and the number of (key, window)
    groups dropped as late, for the two-step drain.  The first step starts
    with no watermark; the second runs under ``max(ts of step 1) - lag``,
    and a window is late when its end is at or before the watermark."""
    a = pd.concat(step1, ignore_index=True)
    b = pd.concat(step2, ignore_index=True)
    wm = int(_ms(a["ts"]).max()) - gen_stream.LAG_MS
    wa, wb = _windows(a), _windows(b)
    late = wb["start"] + WINDOW_MS <= wm
    dropped = len(wb[late].drop_duplicates(["key", "start"]))
    w = pd.concat([wa, wb[~late]], ignore_index=True)
    agg = w.groupby(["key", "start"]).agg(n=("v", "size"), s=("v", "sum")).reset_index()
    return {"dropped": dropped, "windows": agg}


def check_output(out_dir: str, ref: dict) -> bool:
    """The last update of every (key, window) equals the reference."""
    frames = []
    for b in sorted(os.listdir(out_dir)):
        if not b.startswith("b"):
            continue
        t = pq.read_table(os.path.join(out_dir, b)).to_pandas()
        t["batch"] = int(b[1:])
        frames.append(t)
    got = pd.concat(frames, ignore_index=True)
    got["start"] = _ms(got["window_start"])
    got = (got.sort_values("batch").drop_duplicates(["key", "start"], keep="last")
           [["key", "start", "n", "s"]].sort_values(["key", "start"]).reset_index(drop=True))
    want = ref["windows"].sort_values(["key", "start"]).reset_index(drop=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    return (len(got) == len(want)
            and (got["key"].to_numpy() == want["key"].to_numpy()).all()
            and (got["start"].to_numpy() == want["start"].to_numpy()).all()
            and (got["n"].to_numpy() == want["n"].to_numpy()).all()
            and (got["s"].to_numpy() == want["s"].to_numpy()).all())
