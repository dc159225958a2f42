"""The benchmark's workloads.

Each workload function generates its inputs from the run's seed, sets
up (timed into `run.setup`), then repeats its timed operation until
`run.seconds` have passed. It fills `run.e2e` with the end-to-end
metrics and, on a traced run, hands each traced operation to
`run.traced` for the per-layer report. README.md in this directory
explains every metric and why each workload was chosen.
"""

from __future__ import annotations

import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from gate import Gate, pair_hash, pair_set
from spans import INC_STAGE, Span, Tracer

# bench.BENCH_ONTOLOGY's shape (1,200 concepts a side, two sources);
# the seed comes from --seed
BENCH_ONTOLOGY = dict(
    n_concepts=1200, n_matched=700, n_obj_props=200, n_data_props=60,
    n_matched_props=120, vocab_size=320,
)
TRANSCRIPT_COPIES = 40      # ~142k turns
WARM_BUILDS = 2
STANDING_ONTOLOGY = dict(
    n_concepts=400, n_matched=240, n_obj_props=60, n_data_props=20,
    n_matched_props=40, vocab_size=320,
)
FEEDS = ("feed01",)  # one episode: these feeds, in order
STAGING_REPEATS = 3
COLD_LOADS = 2
KERNEL_BATCH = 10_000       # spark.sql.execution.arrow.maxRecordsPerBatch


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


@dataclass
class TracedOp:
    span: Span
    rows: dict[str, int] = field(default_factory=dict)
    values: dict[str, float] = field(default_factory=dict)


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    work: Path
    gate: Gate
    tracer: Tracer | None = None
    setup: dict[str, float] = field(default_factory=dict)
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    traced: list[TracedOp] = field(default_factory=list)


def _config():
    from veealign_spark.plans.pipeline import PipelineConfig

    return PipelineConfig(blocking="blocked")


@contextmanager
def _maybe_traced(run: Run, name: str, on: bool):
    if not on:
        yield None
        return
    run.tracer.install()
    try:
        with run.tracer.op(name) as span:
            yield span
    finally:
        run.tracer.uninstall()


def _timed_loop(run: Run, step) -> None:
    """Call step(traced) until run.seconds have passed. A traced run
    alternates untraced and traced operations, at least one of each,
    so the trace overhead is measured in the same session."""
    t0 = time.perf_counter()
    n = 0
    while n == 0 or time.perf_counter() - t0 < run.seconds or (run.tracer and n < 2):
        step(run.tracer is not None and n % 2 == 1)
        n += 1


def _median_of_repeats(fn, repeats: int):
    """Run fn() `repeats` times; return (median seconds, last result)."""
    times, out = [], None
    for i in range(repeats):
        t0 = time.perf_counter()
        out = fn(i)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def du(path: Path) -> tuple[int, int]:
    """(bytes, files) under path."""
    files = [p for p in path.rglob("*") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


def _entities(triples, src: str) -> tuple[set[str], set[str]]:
    """Concept and property keys of one source, as the pipeline derives
    its concept universe (pipeline.concepts_from_triples)."""
    t = triples[triples["src"] == src]
    sub = t[t["kind"] == "Subclass"]
    obj = t[t["kind"] == "Object Property"]
    dat = t[t["kind"] == "Datatype Property"]
    concepts = set(sub["subj"]) | set(sub["obj"]) | set(obj["subj"]) | set(obj["obj"]) | set(dat["subj"])
    props = set(t.loc[t["kind"] != "Subclass", "pred"])
    return {f"{src}#{c}" for c in concepts}, {f"{src}#{p}" for p in props}


def _gate_alignments(run: Run, pairs: set, gold: set, res: dict, key: str) -> tuple[float, float]:
    p, r = run.gate.quality(pairs, gold)
    run.gate.expect_same(f"{key}.accepted_sha256", pair_hash(pairs))
    run.gate.expect_same("vector_mode", res["vector_mode"])
    run.gate.expect_same("threshold", float(res["threshold"]))
    return p, r


def _gate_kg(run: Run, clusters, accepted, kg_triples, kg_entities) -> None:
    from veealign_spark.operators import canonicalize

    audit = canonicalize.validate_kg(clusters, accepted, kg_triples, kg_entities).collect()
    bad = {r["invariant"]: r["violations"] for r in audit if r["violations"]}
    run.gate.check(not bad, f"validate_kg violations {bad}")


def _cold_loads(run: Run, root: Path, traced: bool) -> tuple[float, dict]:
    """load_standing(verify=True) of CURRENT plus a kg_triples count,
    COLD_LOADS times; returns (median seconds, last loaded dict)."""
    from veealign_spark.plans import standing

    times, std = [], None
    for _ in range(COLD_LOADS):
        with _maybe_traced(run, "op.load", traced) as span:
            t0 = time.perf_counter()
            std = standing.load_standing(run.spark, str(root), verify=True)
            std["kg_triples"].count()
            times.append(time.perf_counter() - t0)
        if span is not None:
            run.traced.append(TracedOp(span))
    return statistics.median(times), std


def _candidate_layer(res: dict, accepted: set, concept_gold: set) -> dict[str, float]:
    pdf = res["candidates"].select("ent1", "ent2").toPandas()
    cands = pair_set(pdf["ent1"], pdf["ent2"])
    return {
        "candidates.pairs": len(cands),
        "candidates.gold_recall": len(concept_gold & cands) / len(concept_gold),
        "candidates.yield": len(accepted & cands) / len(cands) if cands else 0.0,
    }


def _op_layer(res: dict, accepted: set, concept_gold: set) -> dict[str, float]:
    """Per-layer values a traced operation's result carries."""
    t = res["unstaged_timings"]
    out = {"scoring.vocab_s": t["vocab"], "scoring.encode_s": t["encode"]}
    out.update(_candidate_layer(res, accepted, concept_gold))
    out["canonicalize.clusters"] = res["clusters"].select("canon_id").distinct().count()
    return out


def _ledger_rows(res: dict) -> dict[str, int]:
    return {INC_STAGE.sub("", m["stage"]): m["rows"] for m in res["metrics"]}


# ---- transcripts_redundant ------------------------------------------


def transcripts_redundant(run: Run) -> None:
    from veealign_spark import datagen
    from veealign_spark.plans import pipeline, standing
    from veealign_spark.sources.transcripts import extract_mentions

    spark = run.spark
    stage_dir = run.work / f"stage-transcripts_redundant-{TRANSCRIPT_COPIES}-s{run.seed}"
    pair = datagen.make_ontology_pair(seed=run.seed, **BENCH_ONTOLOGY)
    gold = pair_set(pair["gold"]["ent1"], pair["gold"]["ent2"])
    concept_keys = {f"{s}#{i}" for s, i in zip(pair["concepts"]["src"], pair["concepts"]["id"])}
    concept_gold = {p for p in gold if p[0] in concept_keys and p[1] in concept_keys}

    def stage(i: int):
        p = datagen.make_ontology_pair(seed=run.seed, **BENCH_ONTOLOGY)
        tdf = datagen.make_transcripts_df(spark, p["triples"], copies=TRANSCRIPT_COPIES, seed=run.seed)
        path = str(stage_dir / f"transcripts{i}")
        tdf.write.mode("overwrite").parquet(path)
        out = spark.read.parquet(path)
        out.count()
        return out

    log("staging")
    run.setup["staging_s"], tdf = _median_of_repeats(stage, STAGING_REPEATS)
    t0 = time.perf_counter()
    mentions = extract_mentions(tdf).count()
    run.setup["mentions_s"] = time.perf_counter() - t0

    builds: dict[bool, list[float]] = {False: [], True: []}
    last: dict = {}

    def build(traced: bool, label: str, record: bool = True) -> None:
        log(label + (" (traced)" if traced else ""))
        with run.gate.operation(label):
            with _maybe_traced(run, "op.build", traced) as span:
                t0 = time.perf_counter()
                res = pipeline.run_pipeline(spark, tdf, _config())
                acc = res["accepted"].select("ent1", "ent2").toPandas()
                wall = time.perf_counter() - t0
            pairs = pair_set(acc["ent1"], acc["ent2"])
            p, r = _gate_alignments(run, pairs, gold, res, "batch")
            if record:
                builds[traced].append(wall)
                last.update(res=res, precision=p, recall=r)
            if span is not None:
                op = TracedOp(span, _ledger_rows(res), _op_layer(res, pairs, concept_gold))
                run.traced.append(op)

    t0 = time.perf_counter()
    for i in range(WARM_BUILDS):
        build(False, f"warm-up build {i}", record=False)
    run.setup["warmup_s"] = time.perf_counter() - t0

    _timed_loop(run, lambda traced: build(traced, f"build {len(builds[False]) + len(builds[True])}"))
    if not last:
        return
    build_s = statistics.median(builds[False])
    res = last["res"]

    # the finished batch becomes a published standing version
    root = run.work / "standing"
    traced = run.tracer is not None
    log("publish and cold load")
    with run.gate.operation("publish and cold load"):
        with _maybe_traced(run, "op.publish", traced) as span:
            t0 = time.perf_counter()
            standing.publish_standing(spark, res, str(root))
            publish_s = time.perf_counter() - t0
        if span is not None:
            op = TracedOp(span)
            op.values.update(_version_layer(root))
            run.traced.append(op)
        load_s, std = _cold_loads(run, root, traced)
        _gate_kg(run, std["clusters"], std["accepted"], std["kg_triples"], std["kg_entities"])
        run.e2e.update(
            build_s=build_s,
            kg_triples_per_s=mentions / build_s,
            feed_latency_s=build_s + publish_s,
            cold_load_s=load_s,
            store_mb=du(root)[0] / 1e6,
            precision=last["precision"],
            recall=last["recall"],
        )

    if traced:
        t0 = time.perf_counter()
        extract_mentions(tdf).count()
        run.layer.update({
            "transcripts.extract_s": time.perf_counter() - t0,
            "transcripts.mentions": mentions,
            "transcripts.dedup_ratio": _ledger_rows(res)["triples"] / mentions,
        })
        if builds[True]:
            run.layer["trace.overhead_s"] = (
                statistics.median(builds[True]) - statistics.median(builds[False])
            )


def _version_layer(root: Path) -> dict[str, float]:
    """Size of the version the last publish wrote."""
    from veealign_spark.plans import standing

    vdir = root / f"v{standing.current_version(str(root)):05d}"
    size, files = du(vdir)
    return {"standing.publish_mb": size / 1e6, "standing.publish_files": files}


# ---- standing_feeds -------------------------------------------------


def standing_feeds(run: Run) -> None:
    from veealign_spark import datagen, schemas
    from veealign_spark.plans import incremental, pipeline, standing

    spark = run.spark
    pair = datagen.make_ontology_pair(seed=run.seed, **STANDING_ONTOLOGY)
    tri = pair["triples"]

    def generate(_i: int):
        # feeds arrive as DataFrames; nothing is staged to files
        t = datagen.make_ontology_pair(seed=run.seed, **STANDING_ONTOLOGY)["triples"]
        clone = t[t["src"] == "src2"]
        out = {"standing": t, **{f: clone.assign(src=f) for f in FEEDS}}
        return {k: spark.createDataFrame(v, schema=schemas.TRIPLES) for k, v in out.items()}

    log("input generation")
    run.setup["staging_s"], inputs = _median_of_repeats(generate, STAGING_REPEATS)

    # gold: the batch gold, and for every feed (a re-keyed clone of src2)
    # the identity pairs with src2 and earlier feeds plus src1's gold
    # partners of src2
    gold = pair_set(pair["gold"]["ent1"], pair["gold"]["ent2"])
    c2, p2 = _entities(tri, "src2")
    local = {k.split("#", 1)[1] for k in c2 | p2}
    concept_local = {k.split("#", 1)[1] for k in c2}
    feed_gold, feed_concept_gold = {}, {}
    for k, f in enumerate(FEEDS):
        peers = ("src2",) + FEEDS[:k]
        g = pair_set(
            [f"{s}#{x}" for s in peers for x in local],
            [f"{f}#{x}" for s in peers for x in local],
        )
        g |= pair_set([a for a, _ in gold], [f"{f}#{b.split('#', 1)[1]}" for _, b in gold])
        feed_gold[f] = g
        feed_concept_gold[f] = {
            p for p in g
            if p[0].split("#", 1)[1] in concept_local and p[1].split("#", 1)[1] in concept_local
        }

    # standing build and its v1 publish
    root = run.work / "standing"
    log("standing build")
    t0 = time.perf_counter()
    with run.gate.operation("standing build"):
        base = pipeline.run_pipeline(spark, triples=inputs["standing"], config=_config())
        acc = base["accepted"].select("ent1", "ent2").toPandas()
        _gate_alignments(run, pair_set(acc["ent1"], acc["ent2"]), gold, base, "standing")
        standing.publish_standing(spark, base, str(root))
    run.setup["standing_build_s"] = time.perf_counter() - t0
    base_version = standing.current_version(str(root))

    feeds: dict[bool, list[dict]] = {False: [], True: []}
    episodes: list[dict] = []

    def feed(std: dict, f: str, traced: bool) -> dict | None:
        log(f"feed {f}" + (" (traced)" if traced else ""))
        with run.gate.operation(f"feed {f}"):
            with _maybe_traced(run, "op.feed", traced) as span:
                t0 = time.perf_counter()
                inc = incremental.incremental_update(
                    spark, std, new_triples=inputs[f], config=_config()
                )
                acc = inc["alignments"].filter("accepted").select("ent1", "ent2").toPandas()
                t1 = time.perf_counter()
                standing.publish_standing(spark, inc, str(root), incremental=True)
                t2 = time.perf_counter()
            pairs = pair_set(acc["ent1"], acc["ent2"])
            p, r = _gate_alignments(run, pairs, feed_gold[f], inc, f)
            _gate_kg(run, inc["clusters"], inc["accepted"], inc["kg_triples"], inc["kg_entities"])
            feeds[traced].append(dict(
                build_s=t1 - t0, latency_s=t2 - t0, precision=p, recall=r,
                triples=_ledger_rows(inc)["triples"],
            ))
            if span is not None:
                op = TracedOp(span, _ledger_rows(inc), _op_layer(inc, pairs, feed_concept_gold[f]))
                op.values["incremental.scored_pairs"] = op.rows["scores"]
                op.values.update(_version_layer(root))
                run.traced.append(op)
            return inc
        return None

    def episode(traced: bool) -> None:
        std = base
        for f in FEEDS:
            std = feed(std, f, traced)
            if std is None:
                break
        log("cold load")
        with run.gate.operation("cold load"):
            load_s, _ = _cold_loads(run, root, traced)
            episodes.append(dict(load_s=load_s, store_mb=du(root)[0] / 1e6))
        # back to the standing version for the next episode
        for v in standing.list_versions(str(root)):
            if v > base_version:
                shutil.rmtree(root / f"v{v:05d}")
        (root / "CURRENT").write_text(f"v{base_version:05d}\n")

    _timed_loop(run, episode)
    untraced = feeds[False]
    if not untraced or not episodes:
        return
    build_s = statistics.median(x["build_s"] for x in untraced)
    run.e2e.update(
        build_s=build_s,
        kg_triples_per_s=statistics.median(x["triples"] / x["build_s"] for x in untraced),
        feed_latency_s=statistics.median(x["latency_s"] for x in untraced),
        cold_load_s=statistics.median(e["load_s"] for e in episodes),
        store_mb=statistics.median(e["store_mb"] for e in episodes),
        precision=statistics.median(x["precision"] for x in untraced),
        recall=statistics.median(x["recall"] for x in untraced),
    )
    if feeds[True]:
        run.layer["trace.overhead_s"] = statistics.median(
            x["latency_s"] for x in feeds[True]
        ) - statistics.median(x["latency_s"] for x in untraced)


# ---- operators.kernel_np --------------------------------------------


def kernel_throughput(seed: int, min_s: float = 0.5) -> dict[str, float]:
    """Pairs per second of the numpy scoring kernel on fixed tensors of
    one Arrow batch, shaped as the pipeline's default config feeds it
    (emb_dim 32, 4 neighbour types, 2 paths of length 4; 16 slots a
    property side)."""
    from veealign_spark.operators import kernel_np

    rng = np.random.default_rng(seed)
    p = kernel_np.default_params()
    vocab = 4000
    emb = rng.standard_normal((vocab, p.emb_dim))
    emb[0] = 0.0
    b = KERNEL_BATCH

    def padded(shape):
        idx = rng.integers(1, vocab, shape)
        idx[rng.random(shape) < 0.5] = 0
        return idx

    nodes = rng.integers(1, vocab, (b, 2))
    feats = padded((b, 2, p.n_types, p.max_paths, p.max_pathlen))
    props = padded((b, 2, 3, 16))

    def rate(fn) -> float:
        fn()  # first call allocates
        n, t0 = 0, time.perf_counter()
        while n == 0 or time.perf_counter() - t0 < min_s:
            fn()
            n += 1
        return n * b / (time.perf_counter() - t0)

    return {
        "kernel.concept_pairs_per_s": rate(lambda: kernel_np.score_concept_pairs(nodes, feats, emb, p)),
        "kernel.prop_pairs_per_s": rate(lambda: kernel_np.score_property_pairs(props, emb, p)),
    }


# name -> (workload, the input size that keys its staging and gate records)
WORKLOADS = {
    "transcripts_redundant": (transcripts_redundant, TRANSCRIPT_COPIES),
    "standing_feeds": (standing_feeds, STANDING_ONTOLOGY["n_concepts"]),
}
