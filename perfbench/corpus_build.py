"""``corpus_build``: ``operators.build.build_training_corpus`` over a
generated text corpus with planted exact duplicates and near-duplicate
clusters.

The timed figure is the first build of the session, on a cached input
DataFrame: a cold build, code generation and JIT included, as a batch
job run once per Spark application pays it.  Builds that still fit in
the run's seconds are printed as a warm figure only.  The funnel stats
of every build are checked against the planted structure, and once per
run the near-dup stages are run on their own so their clusters can be
checked too: no cluster may join documents of two planted groups.
Near-dup recall is reported as a per-layer figure, not as an error
(MinHash-LSH is probabilistic).
"""

from __future__ import annotations

import time

import gen
import harness
import reference as ref
import spans

DOCS = 500
SETUPS = 3
N_MERGES = 200


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def stages(spark, docs, corpus: gen.Corpus, full: bool, tracer=None) -> dict:
    """Run the build's public stages in build order, each materialized
    (cached, then written to a noop sink) before the next starts.
    ``full`` adds BPE training and tokenizing + writing.  Returns stage
    seconds, the verified pair count, the near-dup cluster check and
    recall."""
    from pyspark.sql import functions as F

    from topic_store_spark.functions.text import quality_score
    from topic_store_spark.operators.bpe import apply_bpe, train_bpe
    from topic_store_spark.operators.dedup import (
        connected_components,
        deduplicate_exact,
        minhash_lsh_pairs,
    )

    out: dict = {}
    cached = []

    def stage(name, build):
        t0 = time.perf_counter()
        with spans.maybe_span(tracer, f"corpus.{name}"):
            df = build().cache()
            _noop(df)
        out[f"{name}_s"] = time.perf_counter() - t0
        cached.append(df)
        return df

    try:
        gated = stage("quality", lambda: docs.filter(quality_score(F.col("text")) >= 0.5))
        exact = stage("exact_dedup", lambda: deduplicate_exact(gated))
        pairs = stage("minhash", lambda: minhash_lsh_pairs(exact))
        labels = stage("components", lambda: connected_components(pairs))
        out["pairs_verified"] = pairs.count()
        comp = {r["node"]: r["component"] for r in labels.collect()}
        survivors = {r["doc_id"] for r in exact.select("doc_id").collect()}
        out["cluster_errors"] = ref.check_clusters(comp, corpus.group_of())
        out["recall"] = ref.near_dup_recall(comp, corpus.near_groups, survivors)
        if full:
            losers = labels.filter(F.col("node") != F.col("component")).select(
                F.col("node").alias("doc_id"))
            near = exact.join(losers, "doc_id", "left_anti").cache()
            cached.append(near)
            t0 = time.perf_counter()
            with spans.maybe_span(tracer, "corpus.bpe_train"):
                merges = train_bpe(near, n_merges=N_MERGES)
            out["bpe_train_s"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            with spans.maybe_span(tracer, "corpus.pack_write"):
                apply_bpe(near, merges).write.mode("overwrite").parquet(
                    harness.work_path("stage_tokens.parquet"))
            out["pack_write_s"] = time.perf_counter() - t0
    finally:
        for df in cached:
            df.unpersist()
    return out


class Build:
    """Builds of one corpus; each writes to its own output directory."""

    def __init__(self, spark, corpus: gen.Corpus) -> None:
        self.spark, self.corpus = spark, corpus
        self.builds = 0
        groups = corpus.group_of()
        self.n_groups = len(set(groups.values()))

    def frame(self):
        df = self.spark.createDataFrame(self.corpus.docs, "doc_id long, text string")
        df = df.cache()
        df.count()
        return df

    def build(self, df, log: harness.OpLog | None) -> float:
        """One build; with a ``log`` it is checked and logged.  Returns
        its wall time."""
        from topic_store_spark.operators.build import build_training_corpus

        self.builds += 1
        out = harness.work_path(f"build{self.builds}")

        def call():
            return build_training_corpus(df, out, n_merges=N_MERGES)

        def check(stats):
            errors = ref.check_funnel(stats, len(self.corpus.docs),
                                      self.corpus.exact_groups, self.n_groups)
            return "; ".join(errors) or None

        if log is None:
            t0 = time.perf_counter()
            call()
            return time.perf_counter() - t0
        log.run("build", "build", call, check)
        return log.ops[-1].seconds


def run(spark, session_s: float, seed: int, seconds: float, traced: bool):
    corpus = gen.corpus(seed, DOCS)
    job = Build(spark, corpus)
    setup_times, frames = [], []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        frames.append(job.frame())
        setup_times.append(time.perf_counter() - t0)
    df = frames[0]
    for extra in frames[1:]:
        extra.unpersist()

    # whole builds, at least one, until ``seconds`` have passed; the
    # first, cold one is the timed figure
    log = harness.OpLog()
    t_end = time.perf_counter() + seconds
    while not log.ops or time.perf_counter() < t_end:
        job.build(df, log)
    build_s = log.ops[0].seconds
    warm_times = [op.seconds for op in log.ops[1:] if op.error is None]
    stats = next((op.result for op in log.ops if op.error is None), None) or {}

    with harness.phase("near-dup stage check"):
        check = stages(spark, df, corpus, full=traced)
    for err in check["cluster_errors"]:
        log.ops.append(harness.Op("near_dup_clusters", "check", 0.0, err))
        log.wrong += 1

    result = harness.Result(log=log)
    result.metrics.update(
        setup_s=(session_s + harness.median(setup_times), "s"),
        throughput_per_s=(DOCS / build_s, "1/s"),
        latency_ms=(1000 * build_s, "ms"),
    )
    result.note("corpus_docs_per_s", DOCS / build_s, "1/s", f"first build, {DOCS} docs")
    if warm_times:
        result.note("corpus_warm_docs_per_s", DOCS / harness.median(warm_times), "1/s",
                    f"median of {len(warm_times)} later builds")
    result.note("near_dup_recall", check["recall"], "ratio")
    result.layers.update({
        "session.get_spark_s": (session_s, "s"),
        "corpus.n_exact_dedup": (stats.get("n_exact_dedup", 0), "count"),
        "corpus.n_near_dedup": (stats.get("n_near_dedup", 0), "count"),
        "corpus.n_tokens": (stats.get("n_tokens", 0), "count"),
        "dedup.pairs_verified": (check["pairs_verified"], "count"),
        "dedup.near_dup_recall": (check["recall"], "ratio"),
    })

    if traced:
        tracer = spans.Tracer()
        traced_log = harness.OpLog()
        # untraced warm builds on both sides: the JVM keeps warming
        before = job.build(df, None)
        with spans.instrument(tracer):
            with tracer.operation(spark, "build", "build", "build"):
                job.build(df, traced_log)
        after = job.build(df, None)
        result.traced(spark, tracer, (before + after) / 2, sum(traced_log.latencies()))
        names = ("quality", "exact_dedup", "minhash", "components", "bpe_train", "pack_write")
        for name in names:
            result.layers[f"corpus.{name}_s"] = (check[f"{name}_s"], "s")
        result.note("corpus.staged_total_s", sum(check[f"{n}_s"] for n in names), "s",
                    "stages run one by one")
    return result
