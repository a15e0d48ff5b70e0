"""The benchmark's workloads: set-up, the correctness gate, and the
timed repetitions.

Both workloads are closed loops: one client, one repetition in flight.
A repetition's outcome is compared, by an order-independent hash, with
the reference outcome that passed the correctness gate during set-up;
a repetition that differs counts as failed.

- ``pipeline_mem``: ``run_pipeline(store=None)`` on a synthetic corpus
  from ``go_dedupe_spark.synth.generate``.
- ``doc_leaves``: the ``er_scores``, ``er_components`` and
  ``dedup_ngram_jaccard`` leaves of ``__spark_entry__.queries()`` on a
  generated ``documents`` table.
"""

from __future__ import annotations

import hashlib
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
import oracle
from corpus import make_documents
from go_dedupe_spark.entry_queries import ER_MAX_BLOCK
from go_dedupe_spark.plans import CheckpointStore, PipelineConfig, run_pipeline
from go_dedupe_spark.synth import generate
from spans import PIPELINE_LAYERS, Tracer, median_by_key, spark_metrics

PIPELINE_FILES = 2500
DOC_COUNT = 1000
# The DuckDB twins check each leaf's rows. dedup_ngram_jaccard's twin
# runs on the measured corpus (about 7 s single-threaded on 1,000
# documents). er_scores' twin costs about 2 ms a pair there (65 s), so it
# runs on a corpus built to salt: SALT_DOCS long documents in one
# language, most of which share one unigram-MinHash block, so that
# block exceeds ER_MAX_BLOCK and is md5-salted (about 3,000 pairs,
# 18 s). er_components' twin is a recursive CTE (134 s on 800
# documents), so it runs on CC_ORACLE_DOCS documents of the measured
# corpus's kind; on the measured corpus er_components is checked
# against a union-find closure of er_scores' matches.
SALT_DOCS = 160
SALT_CORPUS = {"langs": ["en"], "weights": [1], "words": (90, 100)}
CC_ORACLE_DOCS = 80
DOC_LEAVES = {
    "er_scores": "entry_queries.er_scores",
    "er_components": "entry_queries.er_components",
    "dedup_ngram_jaccard": "dedupe.dedup_ngram_jaccard",
}
PREP_ROUNDS = 3
MIN_REPS = 3
# a traced run alternates untraced and traced repetitions
MIN_TRACED_REPS = 2
# Extra JVM options per workload. With default tiered compilation the
# pipeline's repetitions keep speeding up for five or more repetitions
# and settle at a level that differs from JVM to JVM: on a 4-core host,
# seven runs of one seed settled between 4.6 and 6.1 s (IQR/median
# 0.25), against 7.0-8.5 s (0.12) with C1 only, interleaved in the same
# hour. C1 code is ready after the reference run, so the pipeline has
# no untimed warm-up repetition. doc_leaves keeps the default JIT: its
# ten-seed spread read 0.08 and 0.12 under it, and C1 made its
# repetitions take 13-25 s instead of 7-10 s.
JVM_OPTIONS = {"pipeline_mem": "-XX:TieredStopAtLevel=1"}
F1_FLOOR = 0.99
FILE_COLUMNS = ["repo", "path", "commit", "lang", "content"]
CHECKPOINT_STAGES = ["records", "blocks", "pairs", "features", "scores",
                     "components", "resolution"]
SPARK_METRICS = ["executor_s", "busy_ratio", "shuffle_write_bytes",
                 "spill_bytes", "skew", "jobs"]
PIPELINE_SPANS = list(PIPELINE_LAYERS.values())


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    gate: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)
    setup_s: float = 0.0
    files_per_s: float = 0.0
    pairwise_f1: float = 0.0
    per_layer: dict = field(default_factory=dict)
    trace: dict = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return self.failed == 0 and bool(self.gate) and all(self.gate.values())

    def count(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


# ------------------------------------------------------------- helpers


def fingerprint(df: DataFrame) -> tuple[int, str]:
    """(row count, sum of per-row xxhash64): equal for equal row
    multisets, whatever the row order or partitioning."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns])
              .cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], str(row["h"])


def pinned_rdds(spark: SparkSession) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def release_pinned(spark: SparkSession, keep: set[int]) -> int:
    """Unpersist every persisted RDD not in ``keep``, then collect the
    JVM heap so that no repetition pays for the last one's garbage;
    -> how many RDDs were unpersisted."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    extra = [k for k in rdds.keySet() if int(k) not in keep]
    for k in extra:
        rdds.get(k).unpersist(True)
    spark.sparkContext._jvm.System.gc()
    return len(extra)


def f1_score(tp: int, fp: int, fn: int) -> float:
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0


def force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn):
    t0 = time.monotonic()
    out = fn()
    return out, time.monotonic() - t0


def _log(what: str, wall: float) -> None:
    print(f"erbench: {what} {wall:.3f} s", file=sys.stderr, flush=True)


def repeat(seconds: float, trace: bool, rep) -> dict[bool, list[float]]:
    """Call ``rep(i, traced) -> wall`` until ``seconds`` have passed and
    there are MIN_REPS walls (MIN_TRACED_REPS of each kind when
    ``trace``, which alternates untraced and traced calls).
    -> traced? -> walls."""
    walls: dict[bool, list[float]] = {False: [], True: []}
    need = {False: MIN_TRACED_REPS, True: MIN_TRACED_REPS} if trace \
        else {False: MIN_REPS, True: 0}
    deadline = time.monotonic() + seconds
    i = 0
    while True:
        traced = trace and i % 2 == 1
        walls[traced].append(rep(i, traced))
        _log(f"repetition {i} {'traced' if traced else 'untraced'}",
             walls[traced][-1])
        i += 1
        if (time.monotonic() >= deadline
                and all(len(walls[k]) >= n for k, n in need.items())):
            return walls


def trace_overhead(walls: dict[bool, list[float]]) -> float:
    return statistics.median(walls[True]) - statistics.median(walls[False])


def _layer_table(spans_metrics: dict[str, dict]) -> dict[str, float]:
    return {f"{layer}.{k}": v for layer, m in spans_metrics.items()
            for k, v in m.items()}


# ------------------------------------------------------- pipeline_mem


def pipeline_outcome(result) -> tuple:
    """The repetition outcome: match set and cluster set."""
    matches = result.scores.where("is_match").select("id_a", "id_b")
    clusters = result.resolution.select("id", "cluster_id")
    return fingerprint(matches), fingerprint(clusters)


def pipeline_gate(spark, files: DataFrame, corpus, result) -> tuple[dict, float]:
    """The reference run's checks -> (check -> passed, pairwise F1)."""
    n_files = files.count()
    expect = files.select("repo", "path", "commit",
                          F.sha2(F.col("content"), 256).alias("expect_sha"))
    sha_equal = (result.records.join(expect, ["repo", "path", "commit"])
                 .where(F.col("content_sha256") == F.col("expect_sha")).count())

    labeled = spark.createDataFrame(corpus.labeled_pairs[["id_a", "id_b", "label"]])
    blocked = labeled.join(result.pairs.select("id_a", "id_b").distinct(),
                           ["id_a", "id_b"])
    judged = blocked.join(result.scores.select("id_a", "id_b", "is_match"),
                          ["id_a", "id_b"], "left").fillna({"is_match": False})
    agg = judged.agg(
        F.sum((F.col("label") & F.col("is_match")).cast("int")).alias("tp"),
        F.sum((~F.col("label") & F.col("is_match")).cast("int")).alias("fp"),
        F.sum((F.col("label") & ~F.col("is_match")).cast("int")).alias("fn"),
    ).collect()[0]
    f1 = f1_score(agg["tp"] or 0, agg["fp"] or 0, agg["fn"] or 0)

    per_id = result.resolution.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    records = result.records.select("id", F.lit(True).alias("is_record"))
    bad_resolution = (records.join(per_id, "id", "full_outer")
                      .where(F.col("is_record").isNull() | F.col("n").isNull()
                             | (F.col("n") != 1)).count())
    return {
        "content_sha256": sha_equal == n_files,
        "records_complete": result.records.count() == n_files,
        "pairwise_f1": f1 >= F1_FLOOR,
        "resolution_once": bad_resolution == 0,
    }, f1


def pipeline_funnel(result) -> dict[str, float]:
    blocks = {r["block_kind"]: r["count"]
              for r in result.blocks.groupBy("block_kind").count().collect()}
    max_block = (result.blocks.groupBy("block_key").count()
                 .agg(F.max("count")).collect()[0][0])
    pairs = result.pairs.agg(F.count(F.lit(1)).alias("n"),
                             F.sum(F.col("salted").cast("int")).alias("salted")
                             ).collect()[0]
    decided = {r["decided_by"]: (r["n"], r["m"]) for r in
               result.scores.groupBy("decided_by").agg(
                   F.count(F.lit(1)).alias("n"),
                   F.sum(F.col("is_match").cast("int")).alias("m")).collect()}
    matches = sum(m or 0 for _, m in decided.values())
    clusters = result.resolution.select("cluster_id").distinct().count()
    return {
        "scoring.decided.jaccard_floor": decided.get("jaccard_floor", (0, 0))[0],
        "scoring.decided.full": decided.get("full", (0, 0))[0],
        "scoring.decided.exact": decided.get("exact", (0, 0))[0],
        "scoring.matches": matches,
        "scoring.match_ratio": matches / pairs["n"] if pairs["n"] else 0.0,
        "blocking.block_rows": sum(blocks.values()),
        "blocking.block_rows.sha": blocks.get("sha", 0),
        "blocking.block_rows.mh": blocks.get("mh", 0),
        "blocking.block_rows.cmh": blocks.get("cmh", 0),
        "blocking.max_block_size": max_block or 0,
        "pairs.candidate_pairs": pairs["n"],
        "pairs.salted_pairs": pairs["salted"] or 0,
        "components.clusters": clusters,
    }


def run_pipeline_mem(spark: SparkSession, seed: int, seconds: float,
                     trace: bool, workdir: Path) -> Outcome:
    out = Outcome()
    cfg = PipelineConfig()
    corpus, gen_s = _timed(lambda: generate(n_rows=PIPELINE_FILES, seed=seed))
    n_files = len(corpus.files)

    # input preparation, repeated so set-up time is a median
    base = pinned_rdds(spark)
    preps = []
    for _ in range(PREP_ROUNDS):
        release_pinned(spark, base)
        files, dt = _timed(lambda: spark.createDataFrame(
            corpus.files[FILE_COLUMNS]).localCheckpoint(eager=True))
        preps.append(dt)
    base = pinned_rdds(spark)

    def one_pass(store=None):
        result = run_pipeline(spark, files, cfg, store=store,
                              input_snapshot=f"erbench-seed{seed}")
        # every stage is already materialized; forcing the last one
        # keeps the timed region honest if that ever changes
        force(result.resolution)
        return result

    t0 = time.monotonic()
    ref = one_pass()
    ref_wall = time.monotonic() - t0
    _log("reference run", ref_wall)
    out.gate, out.pairwise_f1 = pipeline_gate(spark, files, corpus, ref)
    ref_outcome = pipeline_outcome(ref)
    funnel = pipeline_funnel(ref) if trace else {}
    release_pinned(spark, base)
    _log("reference checks", time.monotonic() - t0 - ref_wall)
    warmup_s = time.monotonic() - t0

    layer_rows, spark_rows, self_rows, pinned, span_log, edges = \
        [], [], [], [], [], []

    def rep(i: int, traced: bool) -> float:
        tracer = Tracer(spark, f"erbench-rep{i}") if traced else None
        t0 = time.monotonic()
        if tracer is not None:
            with tracer.installed():
                result = one_pass()
        else:
            result = one_pass()
        wall = time.monotonic() - t0
        out.count(pipeline_outcome(result) == ref_outcome)
        if tracer is not None:
            # the match edges connected_components received, counted
            # while the stages they read are still pinned
            edges.append(tracer.inputs["components"].count())
        pinned.append(release_pinned(spark, base))
        if tracer is not None:
            layer = tracer.layer_walls()
            layer_rows.append(layer)
            self_rows.append(wall - sum(layer.values()))
            spark_rows.append(_layer_table({
                name: spark_metrics(spark, [s.group for s in tracer.spans
                                            if s.layer == name],
                                    layer.get(name, 0.0))
                for name in PIPELINE_SPANS}))
            span_log.append(tracer.as_json(t0))
        return wall

    walls = repeat(seconds, trace, rep)
    out.setup_s = statistics.median(preps) + gen_s + warmup_s
    out.files_per_s = n_files / statistics.median(walls[False])
    out.per_layer = {"session.warmup_s": warmup_s}
    if trace:
        ckpt, ckpt_spans = _checkpoint_pass(spark, one_pass, ref_outcome, out,
                                            corpus, base, workdir)
        out.per_layer.update(funnel)
        out.per_layer.update(ckpt)
        out.per_layer.update({f"{k}.wall_s": v
                              for k, v in median_by_key(layer_rows).items()})
        out.per_layer.update(median_by_key(spark_rows))
        out.per_layer["components.edges"] = statistics.median(edges)
        out.per_layer["pipeline.self_s"] = statistics.median(self_rows)
        out.per_layer["pipeline.pinned_rdds_after_run"] = statistics.median(pinned)
        out.per_layer["trace.overhead_s"] = trace_overhead(walls)
        out.trace = {"files": n_files, "reference_wall_s": ref_wall,
                     "untraced_walls_s": walls[False],
                     "traced_walls_s": walls[True], "funnel": funnel,
                     "spans": span_log, "checkpoint_spans": ckpt_spans}
    return out


def _checkpoint_pass(spark, one_pass, ref_outcome, out: Outcome, corpus,
                     base: set[int], workdir: Path) -> tuple[dict, list]:
    """One compute-and-write pass through a fresh Parquet store, then a
    resume pass on the same snapshot; both must reproduce the reference."""
    root = workdir / "checkpoint"
    try:
        tracer = Tracer(spark, "erbench-ckpt")
        t0 = time.monotonic()
        with tracer.installed():
            result = one_pass(CheckpointStore(root))
        out.count(pipeline_outcome(result) == ref_outcome)
        writes = tracer.child_walls()
        write_groups = [s.group for s in tracer.spans if s.parent is not None]
        write_s = sum(writes.values())
        t1 = time.monotonic()
        resumed = one_pass(CheckpointStore(root))
        resume_s = time.monotonic() - t1
        out.count(pipeline_outcome(resumed) == ref_outcome)
        release_pinned(spark, base)
        written = sum(p.stat().st_size for p in root.rglob("*") if p.is_file())
        content = int(corpus.files["content"].str.encode("utf-8").str.len().sum())
        metrics = {
            "checkpoint.write_s": write_s,
            "checkpoint.resume_s": resume_s,
            "checkpoint.bytes_written": float(written),
            "checkpoint.bytes_per_input_byte": written / content,
        }
        metrics.update({f"checkpoint.write_s.{s}": writes.get(f"checkpoint.write.{s}", 0.0)
                        for s in CHECKPOINT_STAGES})
        metrics.update(_layer_table(
            {"checkpoint": spark_metrics(spark, write_groups, write_s)}))
        return metrics, tracer.as_json(t0)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------- doc_leaves


def _union_find_clusters(ids, edges) -> dict[str, str]:
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def doc_gate(spark, docs, groups, ref: dict) -> tuple[dict, float, dict]:
    """Checks of the measured corpus's reference outputs -> (check ->
    passed, pairwise F1 of er_scores against the planted groups, counts).

    Every er_scores row is a candidate pair; planted pairs are the
    positives, every other candidate a negative. F1 is reported, not
    gated: the gate for these leaves is their DuckDB twin."""
    sha_of = {d: hashlib.sha256(f"doc:{d}".encode()).hexdigest()
              for d in docs["doc_id"].tolist()}
    positives = []
    for g in groups:
        ids = sorted(sha_of[d] for d in g)
        positives += [(a, b) for k, a in enumerate(ids) for b in ids[k + 1:]]
    pos = spark.createDataFrame(positives, "id_a string, id_b string") \
        .withColumn("label", F.lit(True))
    scores = ref["er_scores"]
    agg = (scores.join(pos, ["id_a", "id_b"], "left")
           .fillna({"label": False})
           .agg(F.count(F.lit(1)).alias("pairs"),
                F.sum(F.col("is_match").cast("int")).alias("matches"),
                F.sum((F.col("label") & F.col("is_match")).cast("int")).alias("tp"),
                F.sum((~F.col("label") & F.col("is_match")).cast("int")).alias("fp"),
                F.sum((F.col("label") & ~F.col("is_match")).cast("int")).alias("fn"))
           .collect()[0])
    f1 = f1_score(agg["tp"] or 0, agg["fp"] or 0, agg["fn"] or 0)
    matches = [(r["id_a"], r["id_b"]) for r in
               scores.where("is_match").select("id_a", "id_b").collect()]
    expect = _union_find_clusters(list(sha_of.values()), matches)
    got = {r["id"]: r["cluster_id"] for r in ref["er_components"].collect()}
    counts = {
        "entry_queries.er_scores.pairs": agg["pairs"],
        "entry_queries.er_scores.matches": agg["matches"] or 0,
        "dedupe.dedup_ngram_jaccard.pairs": ref["dedup_ngram_jaccard"].count(),
    }
    return {"components_closure": got == expect}, f1, counts


def run_doc_leaves(spark: SparkSession, seed: int, seconds: float,
                   trace: bool, workdir: Path) -> Outcome:
    out = Outcome()
    t0 = time.monotonic()
    docs, groups = make_documents(DOC_COUNT, seed)
    salt_docs, _ = make_documents(SALT_DOCS, seed, **SALT_CORPUS)
    cc_docs, _ = make_documents(CC_ORACLE_DOCS, seed)
    gen_s = time.monotonic() - t0
    data_dir, salt_dir, cc_dir = (workdir / d for d in ("docs", "salt_docs",
                                                         "cc_docs"))
    for d, frame in ((salt_dir, salt_docs), (cc_dir, cc_docs)):
        d.mkdir(parents=True)
        frame.to_parquet(d / "documents.parquet", index=False)
    data_dir.mkdir(parents=True)
    preps = [_timed(lambda: docs.to_parquet(data_dir / "documents.parquet",
                                            index=False))[1]
             for _ in range(PREP_ROUNDS)]
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    # leaf -> (corpus dir, documents) its DuckDB twin is checked on
    oracle_corpus = {"er_scores": (salt_dir, salt_docs),
                     "er_components": (cc_dir, cc_docs),
                     "dedup_ngram_jaccard": (data_dir, docs)}
    base = pinned_rdds(spark)

    t0 = time.monotonic()
    with ThreadPoolExecutor(max_workers=1) as pool:
        twin = pool.submit(oracle.duckdb_rows, [
            (name, frame, oracles[name])
            for name, (_, frame) in oracle_corpus.items()])
        # reference on the measured corpus, pinned so that the checks
        # and the reference fingerprint read the same rows
        ref = {name: queries[name](spark, str(data_dir)).localCheckpoint(eager=True)
               for name in DOC_LEAVES}
        _log("reference run", time.monotonic() - t0)
        ref_fp = {name: fingerprint(df) for name, df in ref.items()}
        gate, out.pairwise_f1, counts = doc_gate(spark, docs, groups, ref)
        leaf_out = {}
        for name, (d, _) in oracle_corpus.items():
            sdf = ref[name] if d == data_dir else queries[name](spark, str(d))
            leaf_out[name] = (sdf.columns, sdf.collect())
        del ref
        release_pinned(spark, base)
        salt_block = (queries["er_block_histogram"](spark, str(salt_dir))
                      .agg(F.max("n_ids")).collect()[0][0])
        twins = twin.result()
    # the er_scores twin must see the salted mega-block path
    out.gate["oracle.er_scores.salted"] = salt_block > ER_MAX_BLOCK
    out.notes["oracle.er_scores.max_block"] = salt_block
    for name, (cols, srows) in leaf_out.items():
        ocols, orows = twins[name]
        out.gate[f"oracle.{name}"], ties = oracle.oracle_match(
            name, oracle.ExactValues(oracle_corpus[name][1]),
            cols, srows, ocols, orows)
        out.notes[f"oracle.{name}.rows"] = len(srows)
        out.notes[f"oracle.{name}.rounding_ties"] = ties
    out.gate.update(gate)
    release_pinned(spark, base)
    warmup_s = time.monotonic() - t0
    _log("reference and oracle checks", warmup_s)

    leaf_rows, spark_rows = [], []

    def rep(i: int, traced: bool) -> float:
        tracer = Tracer(spark, f"erbench-rep{i}") if traced else None
        leaf_walls = {}
        for name, layer in DOC_LEAVES.items():
            if tracer is not None:
                tracer.enter(layer)
            fp, leaf_walls[layer] = _timed(
                lambda: fingerprint(queries[name](spark, str(data_dir))))
            out.count(fp == ref_fp[name])
        if tracer is not None:
            tracer.finish()
            leaf_rows.append(leaf_walls)
            spark_rows.append(_layer_table({
                layer: spark_metrics(spark, [f"{tracer.tag}:{layer}"], wall)
                for layer, wall in leaf_walls.items()}))
        release_pinned(spark, base)
        return sum(leaf_walls.values())

    walls = repeat(seconds, trace, rep)
    out.setup_s = statistics.median(preps) + gen_s + warmup_s
    out.files_per_s = len(docs) / statistics.median(walls[False])
    out.per_layer = {"session.warmup_s": warmup_s}
    if trace:
        out.per_layer.update(counts)
        out.per_layer.update({f"{k}.wall_s": v
                              for k, v in median_by_key(leaf_rows).items()})
        out.per_layer.update(median_by_key(spark_rows))
        out.per_layer["trace.overhead_s"] = trace_overhead(walls)
        out.trace = {"documents": len(docs), "untraced_walls_s": walls[False],
                     "traced_walls_s": walls[True], "counts": counts,
                     "leaf_walls_s": leaf_rows}
    return out


WORKLOADS = {"pipeline_mem": run_pipeline_mem, "doc_leaves": run_doc_leaves}
