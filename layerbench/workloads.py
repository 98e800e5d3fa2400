"""The two workloads, their traced variants and their output checks.

Every workload is closed-loop: one operation runs to its committed
result before the next starts, and the next batch of
``incremental_ingest`` starts after the previous one commits.  Inputs
are a pure function of the seed (``sources.pages`` generator).

Why these two (between them every layer of the ledger runs):

- ``pipeline_html_substring`` runs the whole flagship from raw html
  with the substring pass on fixture-length pages (~55 tokens):
  extract, fingerprints, chain, buckets, lsh, substring, components
  and ranking.  It never touches snapshots or the incremental state,
  so a change there predicts no move here.
- ``incremental_ingest`` merges K crawl batches (each the next 1/K of
  the urls plus a 20 % re-crawl of the previous batch) into a snapshot
  table and the incremental dedup state: writes beside reads, many
  small jobs and growing state.  It never runs extract, substring or
  ranking, so a change there predicts no move here.

Sizes (1,800 docs each): every run pays a cold JVM, one corpus build,
a warm-up operation and the output checks, and the whole ledger (48
runs) must fit a one-hour budget even while the box runs a quarter
slower than usual, so a run has about 20 s for its timed operations.
At these sizes the wall is mostly fixed per-job cost; ``README.md``
gives the measured share.

The JVM keeps getting faster for the first several operations of a
process (JIT compilation: the JVM's own CPU per operation more than
halves between the first and the sixth).  A run therefore times a
fixed number of operations, ``ops_for(seconds)``, after the same
warm-up, so every run measures the same positions on that curve.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import deduplicator_spark.plans.pipeline as pipeline_mod
import deduplicator_spark.streaming.incremental as incremental_mod
from deduplicator_spark.config import DEFAULT_CONFIG as CFG
from deduplicator_spark.functions.fingerprints import shingle_set_py
from deduplicator_spark.operators.substring import longest_common_substring_len
from deduplicator_spark.plans.pipeline import DedupPipeline
from deduplicator_spark.sources.extract import extract_text
from deduplicator_spark.sources.pages import synth_pages_with_truth
from deduplicator_spark.sources.snapshots import SnapshotTable
from deduplicator_spark.streaming.incremental import IncrementalDedup

from derive import Span, rewrite_share
from spans import Tracer, process_tree_cpu

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
RECALL_MIN = 0.99
NEAR_PAIR_SAMPLE = 100
SUBSTRING_PAIR_SAMPLE = 30


@dataclass
class OpResult:
    wall_s: float
    cpu_s: float
    batch_s: list[float]
    group: str
    clusters: DataFrame
    near_pairs: DataFrame
    substring_pairs: DataFrame | None = None


@dataclass
class TracedResult:
    tracer: Tracer
    result: OpResult
    counts: dict[str, float] = field(default_factory=dict)


def materialize(df: DataFrame, path: str) -> tuple[DataFrame, int]:
    """Write ``df`` as parquet and return the re-read frame and its row
    count from the footers (no second job)."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path), _parquet_rows(path)


class Workload:
    name = ""
    n_docs = 0
    #: the operation's wall on a 4-core box after the warm-up; sets how
    #: many whole operations fit in ``--seconds``
    op_s = 1.0

    def __init__(self, spark: SparkSession, work: str, seed: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self._reps = 0

    def _dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # --- set-up ------------------------------------------------------------

    def build_corpus(self) -> int:
        """Generate the seeded corpus, drop rows whose url the generator
        repeated (rare hash coincidences), store it as parquet.  Returns
        the doc count."""
        raw_path, path = self._dir("raw"), self._dir("corpus")
        synth_pages_with_truth(self.spark, self.n_docs, seed=self.seed).write.mode("overwrite").parquet(raw_path)
        raw = self.spark.read.parquet(raw_path)
        repeated = raw.groupBy("url").count().filter("count > 1").select("url")
        self.corpus, n = materialize(raw.join(repeated, "url", "left_anti"), path)
        return n

    def ops_for(self, seconds: float) -> int:
        """Operations a run times: as many whole ones as fit in
        ``seconds`` at the nominal wall ``op_s``, at least one; fixed
        for a given ``seconds``, however fast this run goes."""
        return max(1, int(seconds // self.op_s))

    def warm_up(self) -> None:
        """One untimed operation over the whole corpus.  A slice would
        save little: the operation's wall is mostly per-job cost, which
        does not shrink with the input."""
        self.op()

    # --- the timed operation ------------------------------------------------

    def op(self) -> OpResult:
        raise NotImplementedError

    def traced_op(self) -> TracedResult:
        raise NotImplementedError

    def _next_rep(self) -> tuple[str, str]:
        self._reps += 1
        return f"rep/{self._reps}", self._dir(f"rep{self._reps}")

    # --- output checks -----------------------------------------------------

    def truth_sample(self) -> list[tuple[str, str]]:
        """Exact truth pairs: shingle-Jaccard >= cfg.verify_jaccard among
        the docs of every fourth planted cluster (whole clusters, so
        planted pairs are never split by the sample), found with an
        inverted index over ``shingle_set_py`` sets."""
        rows = (
            self.corpus.where(
                F.pmod(F.xxhash64(F.col("truth_cluster_id")), F.lit(4)) == 0
            )
            .select("url", "text")
            .collect()
        )
        sets = {r["url"]: shingle_set_py(r["text"], CFG.shingle_k) for r in rows}
        index: dict[int, list[str]] = {}
        for url, s in sets.items():
            for h in s:
                index.setdefault(h, []).append(url)
        inter: dict[tuple[str, str], int] = {}
        for urls in index.values():
            urls.sort()
            for i, a in enumerate(urls):
                for b in urls[i + 1 :]:
                    inter[(a, b)] = inter.get((a, b), 0) + 1
        return [
            (a, b)
            for (a, b), k in inter.items()
            if k / (len(sets[a]) + len(sets[b]) - k) >= CFG.verify_jaccard
        ]

    def pair_recall(self, clusters: DataFrame) -> float:
        truth = self.truth_sample()
        label = {r["url"]: r["cluster_id"] for r in clusters.select("url", "cluster_id").collect()}
        if not truth:
            raise RuntimeError("truth sample holds no duplicate pairs")
        hit = sum(1 for a, b in truth if a in label and label.get(a) == label.get(b))
        return hit / len(truth)

    def _texts(self, urls: set[str]) -> dict[str, str]:
        return {
            r["url"]: r["text"]
            for r in self.corpus.where(F.col("url").isin(sorted(urls))).select("url", "text").collect()
        }

    def near_pair_checks(self, pairs: DataFrame) -> list[tuple[str, bool]]:
        """Re-verify a deterministic sample of output near pairs with
        the pure-Python shingle reference."""
        sample = (
            pairs.orderBy(F.xxhash64("url_a", "url_b")).limit(NEAR_PAIR_SAMPLE).collect()
        )
        texts = self._texts({r["url_a"] for r in sample} | {r["url_b"] for r in sample})
        out = []
        for r in sample:
            a = shingle_set_py(texts[r["url_a"]], CFG.shingle_k)
            b = shingle_set_py(texts[r["url_b"]], CFG.shingle_k)
            j = len(a & b) / len(a | b) if a | b else 0.0
            out.append((f"near_pair {r['url_a']} {r['url_b']}", j >= CFG.verify_jaccard))
        return out

    def substring_pair_checks(self, pairs: DataFrame) -> list[tuple[str, bool]]:
        """Re-verify sampled substring pairs with the suffix-array LCS."""
        sample = (
            pairs.orderBy(F.xxhash64("url_a", "url_b")).limit(SUBSTRING_PAIR_SAMPLE).collect()
        )
        texts = self._texts({r["url_a"] for r in sample} | {r["url_b"] for r in sample})
        norm = lambda t: " ".join((t or "").lower().split())  # noqa: E731
        out = []
        for r in sample:
            m = longest_common_substring_len(norm(texts[r["url_a"]]), norm(texts[r["url_b"]]))
            ok = m == r["matched_len"] and m >= CFG.substring_min_len
            out.append((f"substring_pair {r['url_a']} {r['url_b']}", ok))
        return out

    def checks(self, res: OpResult) -> tuple[float, list[tuple[str, bool]]]:
        recall = self.pair_recall(res.clusters)
        out = [(f"pair_recall {recall:.5f} >= {RECALL_MIN}", recall >= RECALL_MIN)]
        out += self.near_pair_checks(res.near_pairs)
        if res.substring_pairs is not None:
            out += self.substring_pair_checks(res.substring_pairs)
        return recall, out


@contextmanager
def patched(module, wrappers: dict):
    """Swap module-level names for wrappers; restore them on exit."""
    saved = {name: getattr(module, name) for name in wrappers}
    try:
        for name, make in wrappers.items():
            setattr(module, name, make(saved[name]))
        yield
    finally:
        for name, fn in saved.items():
            setattr(module, name, fn)


class _Layers:
    """Wrappers that run a library call inside a layer span and
    materialize its output at the span's end, so the layer's work is
    timed, CPU-counted and job-grouped where it happens."""

    def __init__(self, tracer: Tracer, out_dir: str):
        self.tracer = tracer
        self.out_dir = out_dir
        self.captured: dict[str, list] = {}

    def _mat(self, df: DataFrame, span: Span) -> DataFrame:
        df, rows = materialize(df, os.path.join(self.out_dir, f"{span.span_id}-{span.name}"))
        span.rows_out += rows
        return df

    def frame(self, layer: str):
        def wrap(fn):
            def call(*args, **kwargs):
                with self.tracer.span(layer) as s:
                    return self._mat(fn(*args, **kwargs), s)
            return call
        return wrap

    def pair_and_audit(self, layer: str):
        """For calls returning (pairs, overflow audit): pairs are
        materialized; inputs and the lazy audit are kept for counts
        taken after the traced wall."""
        def wrap(fn):
            def call(*args, **kwargs):
                with self.tracer.span(layer) as s:
                    pairs, overflow = fn(*args, **kwargs)
                    pairs = self._mat(pairs, s)
                self.captured.setdefault(layer, []).append((args[0], overflow))
                return pairs, overflow
            return call
        return wrap

    def span_only(self, layer: str):
        """For calls that run their own Spark action (encode_ids)."""
        def wrap(fn):
            def call(*args, **kwargs):
                with self.tracer.span(layer):
                    return fn(*args, **kwargs)
            return call
        return wrap


class _PipelineWorkload(Workload):
    run_kwargs: dict = {}
    from_html = False

    def _pages(self, corpus: DataFrame) -> DataFrame:
        pages = corpus.select(*PAGE_COLS)
        return pages.drop("text") if self.from_html else pages

    def op(self) -> OpResult:
        group, _ = self._next_rep()
        pages = self._pages(self.corpus)
        self.sc.setJobGroup(group, self.name)
        cpu0, t0 = process_tree_cpu(), time.monotonic()
        out = DedupPipeline(self.spark).run(
            pages, extract_text_from_html=self.from_html, **self.run_kwargs
        )
        wall, cpu = time.monotonic() - t0, process_tree_cpu() - cpu0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return OpResult(
            wall_s=wall, cpu_s=cpu, batch_s=[wall], group=group,
            clusters=out["clusters"], near_pairs=out["near_pairs"],
            substring_pairs=out.get("substring_pairs"),
        )

    def traced_op(self) -> TracedResult:
        group, rep_dir = self._next_rep()
        tracer = Tracer(self.sc)
        layers = _Layers(tracer, os.path.join(rep_dir, "layers"))

        # the fingerprint UDF runs inside the pipeline's own stage write,
        # so that stage write is the fingerprints layer's boundary
        class TracedPipeline(DedupPipeline):
            def _checkpoint(inner, stage, df, resume):  # noqa: N805
                if stage != "fingerprints":
                    return super()._checkpoint(stage, df, resume)
                with tracer.span("fingerprints") as s:
                    out = super()._checkpoint(stage, df, resume)
                    s.rows_out += inner.metrics[-1].rows
                    return out

        wrappers = {
            "encode_ids": layers.span_only("chain"),
            "decode_clusters": layers.frame("chain"),
            "candidate_pairs": layers.pair_and_audit("buckets"),
            "verify_pairs_two_stage": layers.frame("lsh"),
            "substring_pairs": layers.pair_and_audit("substring"),
            "clusters_from_pairs": layers.frame("components"),
            "actions_from_ranking": layers.frame("ranking"),
        }
        pages = self._pages(self.corpus)
        with patched(pipeline_mod, wrappers), tracer.span("pipeline") as root:
            out = TracedPipeline(self.spark).run(
                pages, extract_text_from_html=self.from_html, **self.run_kwargs
            )
            root.rows_out = out["actions"].count()
        if self.from_html:
            # The pipeline adds extract_text lazily, so its cost lands in
            # the spans that first read ``text``: once in fingerprints and
            # once more in substring.  This probe, after and outside the
            # traced wall, materializes one extract pass on its own.
            with tracer.span("extract") as s:
                layers._mat(pages.withColumn("text", extract_text(F.col("html"))), s)
        res = OpResult(
            wall_s=root.duration, cpu_s=root.cpu, batch_s=[root.duration],
            group=group, clusters=out["clusters"], near_pairs=out["near_pairs"],
            substring_pairs=out.get("substring_pairs"),
        )
        return TracedResult(tracer, res, _audit_counts(layers))


def _audit_counts(layers: _Layers) -> dict[str, float]:
    """Counts taken after the traced wall, outside every span."""
    counts: dict[str, float] = {}
    bucket_calls = layers.captured.get("buckets", [])
    if bucket_calls:
        counts["buckets.overflow_buckets"] = sum(o.count() for _, o in bucket_calls)
        counts["buckets.max_bucket"] = max(
            (b.groupBy("band_idx", "band_hash").count().agg(F.max("count")).first()[0] or 0)
            for b, _ in bucket_calls
        )
    sub_calls = layers.captured.get("substring", [])
    if sub_calls:
        counts["substring.overflow_anchors"] = sum(o.count() for _, o in sub_calls)
    return counts


class PipelineHtmlSubstring(_PipelineWorkload):
    name = "pipeline_html_substring"
    n_docs = 1800
    op_s = 10.0
    from_html = True
    run_kwargs = {"include_substring": True}


class IncrementalIngest(Workload):
    name = "incremental_ingest"
    n_docs = 1800
    op_s = 13.0
    batches = 3
    recrawl_share = 5  # every 5th url of the previous batch comes back

    def build_corpus(self) -> int:
        n = super().build_corpus()
        self.batch_inputs = self._split()
        return n

    def _split(self) -> list[DataFrame]:
        """Batch k: urls hashing to k, plus the re-crawl of batch k-1
        (same content, warc_ts one day later)."""
        k = F.pmod(F.xxhash64("url"), F.lit(self.batches))
        recrawl = F.pmod(F.xxhash64("url", F.lit("recrawl")), F.lit(self.recrawl_share)) == 0
        pages = self.corpus.select(*PAGE_COLS)
        out = []
        for b in range(self.batches):
            batch = pages.where(k == b)
            if b:
                again = pages.where((k == b - 1) & recrawl).withColumn(
                    "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
                )
                batch = batch.unionByName(again)
            out.append(materialize(batch, self._dir("batches", str(b)))[0])
        return out

    def _ingest(self, where: str, tracer: Tracer | None = None):
        table = SnapshotTable(self.spark, os.path.join(where, "snapshot"))
        inc = IncrementalDedup(self.spark, CFG, os.path.join(where, "state"))
        lat = []
        for i, batch in enumerate(self.batch_inputs):
            t0 = time.monotonic()
            if tracer is None:
                table.merge(batch, "url")
                inc.process_batch(batch, i)
            else:
                with tracer.span("snapshots") as s:
                    table.merge(batch, "url")
                    s.rows_out = _manifests(table.log_dir)[-1]["n_rows"]
                with tracer.span("incremental") as s:
                    before = _parquet_rows(inc.state_dir, "fingerprints")
                    inc.process_batch(batch, i)
                    s.rows_out = _parquet_rows(inc.state_dir, "fingerprints") - before
            lat.append(time.monotonic() - t0)
        clusters, _ = materialize(inc.clusters(), os.path.join(where, "clusters"))
        return clusters, lat, table, inc

    def op(self) -> OpResult:
        group, rep_dir = self._next_rep()
        self.sc.setJobGroup(group, self.name)
        cpu0, t0 = process_tree_cpu(), time.monotonic()
        clusters, lat, _, inc = self._ingest(rep_dir)
        wall, cpu = time.monotonic() - t0, process_tree_cpu() - cpu0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return OpResult(
            wall_s=wall, cpu_s=cpu, batch_s=lat, group=group, clusters=clusters,
            near_pairs=self.spark.read.parquet(os.path.join(inc.state_dir, "edges")),
        )

    def traced_op(self) -> TracedResult:
        group, rep_dir = self._next_rep()
        tracer = Tracer(self.sc)
        layers = _Layers(tracer, os.path.join(rep_dir, "layers"))
        wrappers = {
            "candidate_pairs": layers.pair_and_audit("buckets"),
            "verify_pairs": layers.frame("lsh"),
            "clusters_from_pairs": layers.frame("components"),
        }
        with patched(incremental_mod, wrappers), tracer.span("pipeline") as root:
            clusters, lat, table, inc = self._ingest(rep_dir, tracer)
            root.rows_out = clusters.count()
        counts = _audit_counts(layers)
        ingested = sum(b.count() for b in self.batch_inputs)
        counts["incremental.skipped_known"] = ingested - _parquet_rows(inc.state_dir, "fingerprints")
        counts["snapshots.rewrite_share"] = rewrite_share(_manifests(table.log_dir))
        res = OpResult(
            wall_s=root.duration, cpu_s=root.cpu, batch_s=lat, group=group,
            clusters=clusters,
            near_pairs=self.spark.read.parquet(os.path.join(inc.state_dir, "edges")),
        )
        return TracedResult(tracer, res, counts)

    def checks(self, res: OpResult) -> tuple[float, list[tuple[str, bool]]]:
        recall, out = super().checks(res)
        out.append(("single_batch_equivalence", self._single_batch_equal(res.clusters)))
        return recall, out

    def _single_batch_equal(self, clusters: DataFrame) -> bool:
        """The K-batch final clusters equal one IncrementalDedup batch
        over the whole corpus."""
        inc = IncrementalDedup(self.spark, CFG, self._dir("single_batch"))
        inc.process_batch(self.corpus.select(*PAGE_COLS), 0)
        cols = ["url", "cluster_id", "cluster_size"]
        ref = inc.clusters().select(*cols).collect()
        got = clusters.select(*cols).collect()
        return sorted(ref) == sorted(got)


def _parquet_rows(*path: str) -> int:
    """Rows of a parquet dir from its footers; 0 when it does not exist."""
    d = os.path.join(*path)
    if not os.path.isdir(d):
        return 0
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def _manifests(log_dir: str) -> list[dict]:
    """Every commit manifest (``_log/v*.json``) of a snapshot table."""
    out = []
    for f in sorted(os.listdir(log_dir)):
        if f.startswith("v") and f.endswith(".json"):
            with open(os.path.join(log_dir, f)) as fh:
                out.append(json.load(fh))
    return out


WORKLOADS = {
    w.name: w for w in (PipelineHtmlSubstring, IncrementalIngest)
}

