"""``curate``: a closed batch curation chain over a seeded corpus.

quality_logistic → exact_dedup → near-dup candidates → verified pairs →
near_dup_clusters keep-one → similarity.semantic_dedup →
write_training_shards. Each stage is materialised before the next, so
its time is its own. All work is in ``operators.curation``,
``operators.dedup``, ``operators.similarity`` and ``functions.text``;
none is in the ingest layers.
"""

from __future__ import annotations

import time

import numpy as np

from perfbench import gen, harness, live

CORPUS_DOCS = 4_000
COLD_DOCS = 1_500
DIM = 32
SEM_THRESHOLD = 0.95
SEM_PLANES = 8
N_SHARDS = 8
# quality floors: a run below them fails its check. Set under the
# lowest value seen across seeds on the seed build.
MIN_NEARDUP_RECALL = 0.9
MIN_NEARDUP_PRECISION = 0.9
MIN_SEMDUP_RECALL = 0.8


def _write_corpus(ctx, c: gen.Corpus, d) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    harness.fresh_dir(d / "docs")
    harness.fresh_dir(d / "emb")
    n = len(c)
    ids = np.arange(n, dtype=np.int64)
    parts = 2 * ctx.cpus
    for p in range(parts):
        sl = slice(p * n // parts, (p + 1) * n // parts)
        pq.write_table(
            pa.table({"doc_id": ids[sl], "text": c.texts[sl]}), d / "docs" / f"part-{p}.parquet"
        )
        pq.write_table(
            pa.table({"vec_id": ids[sl], "embedding": list(c.embeddings[sl])}),
            d / "emb" / f"part-{p}.parquet",
        )


def _ids(df, col: str) -> np.ndarray:
    return np.sort(df.select(col).toPandas()[col].to_numpy())


def _chain(ctx, d, stages: dict) -> dict:
    """One pass of the chain; returns the id sets each stage kept."""
    from pyspark.sql import functions as F

    from hermod_spark.operators import curation, dedup, similarity

    spark = ctx.spark
    tr = ctx.tracer
    docs = spark.read.parquet(str(d / "docs"))
    emb = spark.read.parquet(str(d / "emb"))

    def stage(name, build):
        with tr.span(name):
            out = build().localCheckpoint()
            n = out.count()
        stages.setdefault(name, []).append(ctx.delta.take() if ctx.delta else {})
        return out, n

    kept, _ = stage("curation.quality", lambda: curation.quality_logistic(
        docs, passthrough=("text",)).filter("keep").select("doc_id", "text"))
    uniq, _ = stage("dedup.exact", lambda: dedup.exact_dedup(kept))
    cands, n_cand = stage("dedup.candidates", lambda: dedup.near_dup_candidates(uniq))
    pairs, n_pairs = stage("dedup.pairs", lambda: dedup.near_dup_pairs(uniq, candidates=cands))
    near_kept, _ = stage("dedup.clusters", lambda: dedup.near_dup_clusters(
        uniq, pairs=pairs).filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id"))
    sem, _ = stage("similarity.semdedup", lambda: similarity.semantic_dedup(
        emb.join(near_kept.withColumnRenamed("doc_id", "vec_id"), "vec_id"),
        threshold=SEM_THRESHOLD, n_planes=SEM_PLANES, dim=DIM,
    ).filter("keep").select(F.col("vec_id").alias("doc_id")))
    final = docs.join(sem, "doc_id")
    with tr.span("curation.shards"):
        manifest = curation.write_training_shards(
            final, str(d / "shards"), n_shards=N_SHARDS, seed=f"s{ctx.seed}"
        )
    stages.setdefault("curation.shards", []).append(ctx.delta.take() if ctx.delta else {})
    return {
        "kept": kept, "uniq": uniq, "near_kept": near_kept, "sem": sem,
        "n_cand": n_cand, "n_pairs": n_pairs, "manifest": manifest,
    }


def warm_up(ctx) -> None:
    """A pass over a small corpus pays the cold costs (class loading,
    code generation); one untimed pass over the timed corpus then
    brings the JIT to where later passes stay within a few percent of
    each other."""
    cold = ctx.workdir / "cold"
    _write_corpus(ctx, gen.corpus(ctx.seed + 1_000_003, COLD_DOCS, DIM), cold)
    _untraced_pass(ctx, cold)
    d = ctx.workdir / "corpus"
    c = gen.corpus(ctx.seed, CORPUS_DOCS, DIM)
    _write_corpus(ctx, c, d)
    ctx.inputs = {"corpus": c, "dir": d}
    _untraced_pass(ctx, d)


def _score(c: gen.Corpus, res: dict) -> dict:
    """Compare what each stage kept with the corpus ground truth."""
    n = len(c)
    kept = _ids(res["kept"], "doc_id")
    uniq = _ids(res["uniq"], "doc_id")
    near_kept = _ids(res["near_kept"], "doc_id")
    sem = _ids(res["sem"], "doc_id")
    want_kept = np.flatnonzero(~c.low)
    exact_removed = np.setdiff1d(kept, uniq)
    near_removed = np.setdiff1d(uniq, near_kept)
    sem_removed = np.setdiff1d(near_kept, sem)
    injected_near = np.array(sorted(c.near_of), np.int64)
    injected_sem = np.array(sorted(c.sem_of), np.int64)
    hit_near = np.intersect1d(near_removed, injected_near).size
    # a doc fails when it lands where the ground truth says it cannot:
    # dropped by quality or by exact dedup when it should not have
    # been (or kept when it should), or in no output at all
    bad = np.zeros(n, bool)
    bad[np.setxor1d(kept, want_kept)] = True
    bad[np.setxor1d(exact_removed, np.array(sorted(c.exact_of), np.int64))] = True
    accounted = np.zeros(n, bool)
    accounted[c.low] = True
    for arr in (exact_removed, near_removed, sem_removed, sem):
        accounted[arr] = True
    bad |= ~accounted
    shard_rows = sum(res["manifest"].values())
    return {
        "failed": int(bad.sum()) + abs(shard_rows - sem.size),
        "keep_share": kept.size / n,
        "exact_removed": exact_removed.size,
        "neardup_recall": hit_near / max(1, injected_near.size),
        "neardup_precision": hit_near / max(1, near_removed.size),
        "semdup_recall": np.intersect1d(sem_removed, injected_sem).size / max(1, injected_sem.size),
        "shard_skew": max(res["manifest"].values()) / (shard_rows / max(1, len(res["manifest"]))),
    }


def measure(ctx) -> dict:
    c, d = ctx.inputs["corpus"], ctx.inputs["dir"]
    n = len(c)

    base_walls = [_untraced_pass(ctx, d)] if ctx.trace else []
    ctx.delta = harness.StageDelta(ctx.spark) if ctx.trace else None
    walls, stages, res = [], {}, None
    while not walls or sum(walls) + walls[-1] <= ctx.seconds:
        harness.quiesce(ctx.spark)
        if ctx.delta:
            ctx.delta.take()
        t0 = time.time()
        with ctx.tracer.span("curate.pass"):
            res = _chain(ctx, d, stages)
        walls.append(time.time() - t0)
    if ctx.trace:
        # untraced before and after the traced passes: the warm-up
        # trend of successive passes cancels in the overhead
        base_walls.append(_untraced_pass(ctx, d))
    score = _score(c, res)
    out = {
        "e2e": {"items_per_s": float(np.median([n / w for w in walls]))},
        "layer": {},
        "attempted": n,
        "failed": score["failed"],
        "checks_ok": (
            score["neardup_recall"] >= MIN_NEARDUP_RECALL
            and score["neardup_precision"] >= MIN_NEARDUP_PRECISION
            and score["semdup_recall"] >= MIN_SEMDUP_RECALL
        ),
        "notes": [f"curate quality: {', '.join(f'{k}={v:.4f}' for k, v in score.items())}"],
    }
    if not ctx.trace:
        return out

    last = {k: v[-1] for k, v in stages.items()}

    def secs(name):
        return float(np.median(ctx.tracer.durations(name)))

    dedup_stages = ("dedup.exact", "dedup.candidates", "dedup.pairs", "dedup.clusters")
    out["layer"] = {
        "curation.quality_s": secs("curation.quality"),
        "curation.keep_share": score["keep_share"],
        "curation.shards_s": secs("curation.shards"),
        "curation.shard_skew": score["shard_skew"],
        "dedup.exact_s": secs("dedup.exact"),
        "dedup.exact_removed": score["exact_removed"],
        "dedup.candidates_s": secs("dedup.candidates"),
        "dedup.candidate_pairs": res["n_cand"],
        "dedup.candidate_precision": res["n_pairs"] / max(1, res["n_cand"]),
        "dedup.clusters_s": secs("dedup.pairs") + secs("dedup.clusters"),
        "dedup.shuffle_bytes": sum(last[k]["shuffle_bytes"] for k in dedup_stages),
        "dedup.task_skew": max(last[k]["task_skew"] for k in dedup_stages),
        "similarity.semdedup_s": secs("similarity.semdedup"),
        "similarity.shuffle_bytes": last["similarity.semdedup"]["shuffle_bytes"],
        "similarity.pairs": _semantic_pairs(ctx, res),
        "curate.neardup_recall": score["neardup_recall"],
        "curate.neardup_precision": score["neardup_precision"],
        "curate.semdup_recall": score["semdup_recall"],
        "bench.trace_overhead": float(np.median(walls)) / float(np.mean(base_walls)) - 1.0,
    }
    # the live leg runs here, in the traced run with the most room under
    # the per-run time limit (see live.py)
    live_layer, live_failed, problems = live.measure_layers(ctx)
    out["layer"].update(live_layer)
    out["attempted"] += live_layer["live.messages"]
    out["failed"] += live_failed
    out["checks_ok"] = out["checks_ok"] and not problems
    out["notes"] += problems
    return out


def _untraced_pass(ctx, d) -> float:
    tracer, delta = ctx.tracer, ctx.delta
    ctx.tracer, ctx.delta = harness.Tracer(False, ""), None
    try:
        harness.quiesce(ctx.spark)
        t0 = time.time()
        _chain(ctx, d, {})
        return time.time() - t0
    finally:
        ctx.tracer, ctx.delta = tracer, delta


def _semantic_pairs(ctx, res) -> int:
    """Embedding pairs the semantic stage verified (recomputed outside
    the timed spans: ``semantic_dedup`` does not expose them)."""
    from hermod_spark.operators import similarity

    emb = ctx.spark.read.parquet(str(ctx.inputs["dir"] / "emb"))
    sub = emb.join(res["near_kept"].withColumnRenamed("doc_id", "vec_id"), "vec_id")
    return similarity.embedding_near_dups(
        sub, SEM_THRESHOLD, SEM_PLANES, dim=DIM
    ).count()
