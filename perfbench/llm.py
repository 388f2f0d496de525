"""llm_curation: the composed training-data curation pipeline, closed loop.

A seeded corpus in five languages with planted exact duplicates (copies
that differ only in case and punctuation) and planted near duplicates
(copies with a few words replaced) runs through exact_dedup →
minhash_lsh_pairs → pairs_to_groups → decontaminate → gopher_quality_flags
→ stratified_sample → pack_concat / pack_stats → one parquet sink, as in
the ``llm_data_pipeline_counts`` composition.

Checks: every planted exact-duplicate group collapses to its smallest id,
near-duplicate recall meets ``NEAR_RECALL_FLOOR``, every document lands in
the bin its running token offset names (so no bin starts past its budget),
the bin stats agree with the documents, and every run of one seed writes an
output with the same digest.
"""

from __future__ import annotations

import hashlib
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import median, percentile
from spans import Tracer

N_DOCS = 600
#: a run measures at least this many curation runs, however long they take
MIN_RUNS = 3
#: corpus of the warm-up run: it compiles the same plans at a fraction of the cost
WARM_DOCS = 150
LANGS = ("en", "de", "fr", "es", "zh")
LANG_SHARE = (0.4, 0.2, 0.15, 0.15, 0.1)
VOCAB = 3_000
EXACT_SHARE = 0.05
NEAR_SHARE = 0.05
NEAR_EDITS = 0.03
LOW_QUALITY_SHARE = 0.05
NEAR_RECALL_FLOOR = 0.9
BUDGET = 512
THRESHOLD = 0.7
RATES = {"en": 0.25, "de": 0.8, "fr": 0.8, "es": 0.5, "zh": 0.5}
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
OPS = ("exact_dedup", "minhash_lsh_pairs", "pairs_to_groups", "decontaminate",
       "gopher_quality_flags", "stratified_sample", "pack_concat", "pack_stats")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


class LlmCuration:
    name = "llm_curation"

    def __init__(self, ws, seed: int, tracer: Tracer):
        self.ws, self.seed, self.tr = ws, seed, tracer
        self.docs_path = ws.path("data", "documents.parquet")
        self.warm_path = ws.path("data", "warm.parquet")
        self.out = ws.path("data", "curated")
        self.digest = None

    # -- inputs ----------------------------------------------------------

    def generate(self) -> None:
        self.exact_groups, self.near_pairs = self._corpus(self.docs_path, N_DOCS, 3)
        self._corpus(self.warm_path, WARM_DOCS, 4)

    def _corpus(self, path: str, n_docs: int, tag: int):
        """Write a corpus; return its planted exact groups and near pairs."""
        rng = np.random.default_rng([self.seed, tag])
        vocab = {}
        for lang in LANGS:
            lens = rng.integers(3, 10, VOCAB)
            words = {"".join(rng.choice(_LETTERS, n)) for n in lens}
            vocab[lang] = np.array(sorted(words))
        zipf = 1.0 / np.arange(1, VOCAB + 1)
        langs = rng.choice(len(LANGS), n_docs, p=LANG_SHARE)
        texts: list[str] = []
        groups: dict[int, list[int]] = {}
        near: set[tuple[int, int]] = set()
        kind = rng.random(n_docs)
        for i in range(n_docs):
            if i > 50 and kind[i] < EXACT_SHARE:
                src = int(rng.integers(0, i))
                root = next((r for r, g in groups.items() if src in g), src)
                texts.append(texts[src].upper() + " !")
                langs[i] = langs[src]
                groups.setdefault(root, [root]).append(i)
                continue
            if i > 50 and kind[i] < EXACT_SHARE + NEAR_SHARE:
                # near copies of short documents fall below the similarity
                # threshold by construction, so only long ones are copied
                src = int(rng.integers(0, i))
                while len(texts[src].split()) < 40:
                    src = int(rng.integers(0, i))
                words = texts[src].split()
                v = vocab[LANGS[langs[src]]]
                for j in rng.choice(len(words), max(1, int(len(words) * NEAR_EDITS)), replace=False):
                    words[j] = v[rng.integers(0, len(v))]
                texts.append(" ".join(words))
                langs[i] = langs[src]
                near.add((src, i))
                continue
            v = vocab[LANGS[langs[i]]]
            p = zipf[: len(v)] / zipf[: len(v)].sum()
            n = int(rng.integers(8, 19)) if kind[i] > 1 - LOW_QUALITY_SHARE else int(rng.integers(40, 200))
            words = list(v[rng.choice(len(v), n, p=p)])
            for j in rng.choice(n, max(2, n // 10), replace=False):
                words[j] = STOPWORDS[rng.integers(0, len(STOPWORDS))]
            texts.append(" ".join(words) + ".")
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "lang": pa.array([LANGS[k] for k in langs]),
            "text": pa.array(texts),
        }), path)
        return groups, near

    # -- engine ----------------------------------------------------------

    def setup(self, spark) -> None:
        from hazelcast_jet_spark import Sources

        self.spark = spark
        self.docs = Sources.map(self.docs_path)(spark)
        self.warm_docs = Sources.map(self.warm_path)(spark)

    def warmup(self) -> None:
        self._curate(self.warm_docs, self.ws.path("data", "warm-out"))

    def _curate(self, docs, out_path: str):
        """One full curation run.  Returns (seconds, sink seconds, frames)."""
        from pyspark.sql import functions as F

        from hazelcast_jet_spark import Sinks
        from hazelcast_jet_spark.operators import text
        from hazelcast_jet_spark.operators.dedup import (
            decontaminate, exact_dedup, minhash_lsh_pairs, pairs_to_groups)
        from hazelcast_jet_spark.operators.packing import pack_concat, pack_stats
        from hazelcast_jet_spark.operators.sampling import stratified_sample
        from hazelcast_jet_spark.operators.text import gopher_quality_flags

        tr = self.tr
        # each run starts cold: nothing cached by the previous one
        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        with tr.span("bench.curation", op=True):
            with tr.span("operators.exact_dedup"):
                groups = exact_dedup(docs, "text", "doc_id")
            surv = docs.join(groups.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi")
            with tr.span("operators.minhash_lsh_pairs"):
                pairs = minhash_lsh_pairs(surv, "text", "doc_id", threshold=THRESHOLD)
            with tr.span("operators.pairs_to_groups"):
                near = pairs_to_groups(pairs)
            drop = near.filter(F.col("node") != F.col("group")).select(F.col("node").alias("doc_id"))
            surv = surv.join(drop, "doc_id", "left_anti")
            bench = docs.filter(F.col("doc_id") % 50 == 0)
            with tr.span("operators.decontaminate"):
                cont = decontaminate(surv, bench, k=3, min_overlap=3)
            surv = surv.join(cont.select("doc_id"), "doc_id", "left_anti")
            with tr.span("operators.gopher_quality_flags"):
                surv = surv.filter(gopher_quality_flags("text")["pass"])
            with tr.span("operators.stratified_sample"):
                sampled = stratified_sample(surv, key_col="doc_id", stratum_col="lang",
                                            rates=RATES, default_rate=0.1, seed="s42-")
            toks = sampled.select("lang", "doc_id", text.token_count("text").alias("tok"))
            with tr.span("operators.pack_concat"):
                packed = pack_concat(toks, token_col="tok", budget=BUDGET,
                                     order_col="doc_id", partition_cols=["lang"])
            with tr.span("operators.pack_stats"):
                stats = pack_stats(packed, "tok", ["lang"])
            out = packed.join(stats, ["lang", "bin_id"])
            t1 = time.perf_counter()
            with tr.span("sinks.write"):
                Sinks.map(out_path)(out)
        t2 = time.perf_counter()
        tr.record_query(out)
        return t2 - t0, t2 - t1, {"groups": groups, "pairs": pairs}

    # -- checks ----------------------------------------------------------

    def _output_ok(self) -> bool:
        """Bin invariant, bin stats and the run-to-run digest."""
        t = pq.read_table(self.out).to_pandas()
        t = t.sort_values(["lang", "doc_id"]).reset_index(drop=True)
        rows = t[["lang", "doc_id", "tok", "bin_id", "n_docs", "total_tokens"]].itertuples(index=False)
        digest = hashlib.sha256(repr([tuple(r) for r in rows]).encode()).hexdigest()
        if self.digest is None:
            self.digest = digest
        ok = digest == self.digest
        prior = t.groupby("lang")["tok"].cumsum() - t["tok"]
        ok &= bool((prior // BUDGET == t["bin_id"]).all())
        g = t.groupby(["lang", "bin_id"]).agg(n=("tok", "size"), s=("tok", "sum"))
        j = t.drop_duplicates(["lang", "bin_id"]).set_index(["lang", "bin_id"]).loc[g.index]
        ok &= bool((g["n"].values == j["n_docs"].values).all()
                   and (g["s"].values == j["total_tokens"].values).all())
        return ok and len(t) > 0

    def _dedup_ok(self, frames) -> bool:
        from pyspark.sql import functions as F

        keep = {r.keep_id: r.dup_count for r in
                frames["groups"].filter(F.col("dup_count") > 1).collect()}
        exact_ok = all(keep.get(root) == len(g) for root, g in self.exact_groups.items())
        found = {(r.id_a, r.id_b) for r in frames["pairs"].select("id_a", "id_b").collect()}
        # a copy whose source was itself an exact duplicate pairs with the
        # surviving group representative instead
        alias = {m: root for root, g in self.exact_groups.items() for m in g}
        want = {tuple(sorted((alias.get(a, a), alias.get(b, b)))) for a, b in self.near_pairs}
        want = {p for p in want if p[0] != p[1]}
        self.recall = len(want & found) / max(1, len(want))
        return exact_ok and self.recall >= NEAR_RECALL_FLOOR

    # -- measurement -----------------------------------------------------

    def run(self, seconds: float) -> dict:
        runs, sinks, failed, attempted, first = [], [], 0, 0, None
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or len(runs) < MIN_RUNS:
            dt, sink_dt, frames = self._curate(self.docs, self.out)
            attempted += 1
            runs.append(dt)
            sinks.append(sink_dt)
            first = first or frames
            with self.tr.span("check.output"):
                failed += 0 if self._output_ok() else 1
        # the digest ties every run's output to the first, so the dedup
        # checks need to see only the first run's frames
        with self.tr.span("check.dedup"):
            attempted += 1
            failed += 0 if self._dedup_ok(first) else 1
        return {
            "attempted": attempted,
            "failed": failed,
            "op": runs,
            "op2": sinks,
            "rows_per_s": N_DOCS / median(runs),
            "named": {
                "curation_s_p50": (median(runs), "s"),
                "curation_s_p90": (percentile(runs, 90), "s"),
                "near_dup_recall": (self.recall, "ratio"),
            },
        }

    def layer_metrics(self) -> dict[str, float]:
        from hazelcast_jet_spark.operators.dedup import minhash_lsh_pairs

        tr = self.tr
        out = {}
        for op in OPS:
            spans = [s for s in tr.spans if s.name == f"operators.{op}" and s.phase == "measure"]
            out[f"operators.{op}_ms"] = median([s.ms for s in spans]) if spans else 0.0
            out[f"operators.{op}_jobs"] = sum(s.jobs for s in spans) / max(1, len(spans))
        # candidates are the verified pairs at similarity 0
        with tr.span("operators.lsh_candidates"):
            cand = minhash_lsh_pairs(self.docs, "text", "doc_id", threshold=0.0).count()
            verified = minhash_lsh_pairs(self.docs, "text", "doc_id", threshold=THRESHOLD).count()
        out["operators.lsh_candidate_pairs"] = float(cand)
        out["operators.lsh_verified_pairs"] = float(verified)
        out["operators.lsh_useful_ratio"] = verified / cand if cand else 0.0
        out["sinks.write_ms"] = tr.median_ms("sinks.write")
        return out

    def close(self) -> None:
        pass
