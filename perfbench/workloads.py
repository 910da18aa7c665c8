"""The two workloads: set-up, the timed operation, and output checks.

Each ``run_<workload>(ctx)`` returns a dict with the untraced op samples,
set-up parts, end-to-end figures and check results; with ``ctx.trace`` it
also runs one traced op and returns its spans.
"""

from __future__ import annotations

import shutil
import statistics
import time
import traceback
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import checks
import inputs
import spans
from smh_to_jsonld_spark.functions.dims import fips_rows
from smh_to_jsonld_spark.operators import aggregates, canon, emit, extract, link
from smh_to_jsonld_spark.operators.triples import triples_from_structs
from smh_to_jsonld_spark.plans import job as job_mod
from smh_to_jsonld_spark.plans.pipeline import kg_pipeline_from_transcripts, turn_order_check
from smh_to_jsonld_spark.sources.tables import TableIO

TURNS_PER_CONV = 24
# 300k turns, not bench.py's 1.2M: at 1.2M an op takes ~11 s and a run has
# room for three, whose median spread too much across seeds (README.md)
FACTORY_CONVS = 12_500
# 24k turns. Phase shares depend on size (near-dup pairing grows about
# quadratically); 48k turns does not fit the run budget (perfbench/README.md)
JOB_CONVS = 1000
INPUT_REPEATS = 3  # input set-ups per run; setup_s takes their median
# factory ops keep getting faster for about a dozen ops while the JIT keeps
# compiling, steeply over the first four (README.md), so three untimed
# warm-up ops come first; a single op can stall on a shared host, so a run
# takes the median of at least five
FACTORY_WARMUP_OPS = 3
FACTORY_MIN_OPS = 5
DIALECT = "v6"


class Context:
    def __init__(self, spark, seed: int, seconds: float, trace: bool, work: Path,
                 partitions: int):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.partitions = partitions
        self.target_meta, self.diseases = inputs.config_dims(spark, seed)
        self._jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    def peak_rss_mb(self) -> float:
        """VmHWM of the JVM plus this Python driver."""
        return checks.vm_hwm_mb(self._jvm_pid) + checks.vm_hwm_mb("self")


# -- shared pieces ----------------------------------------------------------

def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _persisted_input(ctx: Context, n_conv: int):
    """Generate and persist the transcripts INPUT_REPEATS times; returns
    (the last persisted frame, the median set-up seconds)."""
    times = []
    tr = None
    for _ in range(INPUT_REPEATS):
        if tr is not None:
            tr.unpersist(blocking=True)
        dt, tr = _timed(lambda: _materialize_input(ctx, n_conv))
        times.append(dt)
    return tr, statistics.median(times)


def _materialize_input(ctx: Context, n_conv: int):
    tr = inputs.transcripts(ctx.spark, ctx.seed, n_conv, TURNS_PER_CONV, ctx.partitions)
    tr = tr.persist(StorageLevel.MEMORY_AND_DISK)
    tr.count()
    return tr


class Ops:
    """Closed loop: one op at a time until ``seconds`` pass (at least
    ``min_ops``). An op that raises or fails its check counts as failed and
    contributes no wall sample."""

    def __init__(self):
        self.walls: list[float] = []
        self.attempted = 0
        self.failed = 0

    def run(self, seconds: float, op, min_ops: int = 1):
        deadline = time.perf_counter() + seconds
        while self.attempted < min_ops or time.perf_counter() < deadline:
            self.attempted += 1
            try:
                wall, ok = op()
            except Exception:  # an op failure is a measured outcome, not a crash
                traceback.print_exc()
                self.failed += 1
                continue
            if ok:
                self.walls.append(wall)
            else:
                self.failed += 1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- factory ----------------------------------------------------------------

FACTORY_CACHES = ("mentions", "conv_wide", "model_docs", "field_values")


def _factory_op(ctx: Context, tr) -> dict:
    res = kg_pipeline_from_transcripts(
        ctx.spark, tr, ctx.target_meta, ctx.diseases, dialect=DIALECT
    )
    df, obs = checks.observed(res["triples"])
    _noop(df)
    for key in FACTORY_CACHES:
        res[key].unpersist()
    return dict(obs.get)


def _factory_layered(ctx: Context, tracer: spans.Tracer, tr) -> tuple[dict, dict, float]:
    """The factory of ``kg_pipeline_from_transcripts``, one layer at a time,
    each persisted and materialized before the next starts, so each span
    costs only its own layer. Returns (triples digest, counters, wall time
    from the first span's start to the last span's end)."""
    spark = ctx.spark
    keep = []
    t0 = time.perf_counter()

    def persisted(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        keep.append(df)
        return df

    with tracer.span("extract.mentions"):
        mentions = persisted(extract.extract_mentions(tr))
    with tracer.span("extract.conv_wide"):
        conv_wide = persisted(extract.conversation_wide(mentions))
    with tracer.span("link.facts"):
        raw = extract.facts_from_mentions(mentions, extract.conv_dim_from_wide(conv_wide))
        vocab = mentions.filter(F.col("kind") == "fact").select(F.col("f2").alias("surface"))
        linked = persisted(link.link_locations(raw, spark, vocab=vocab))
    facts = linked.drop("location_surface")
    with tracer.span("aggregates.field_values"):
        fv = persisted(aggregates.distinct_field_values(facts, order_col="turn_order"))
    with tracer.span("emit.model_docs"):
        files = extract.files_from_conv_wide(conv_wide)
        docs = persisted(emit.model_docs(
            spark, extract.metadata_from_conv_wide(conv_wide), fv, ctx.target_meta,
            aggregates.file_type_histogram(files), dialect=DIALECT,
        ))
    with tracer.span("triples.model"):
        df, model_obs = checks.observed(triples_from_structs(
            docs.select("doc_id", "doc_struct", "round_id"), passthrough=["round_id"]
        ))
        _noop(df)
    with tracer.span("emit.round_triples"):
        df, round_obs = checks.observed(emit.consolidated_round_triples(
            docs.select("round_id", "model_name", "doc_json"), ctx.diseases, dialect=DIALECT
        ))
        _noop(df)
    wall = time.perf_counter() - t0
    tracer.finish()
    canonical = [f for f, _, _ in fips_rows()]
    row = linked.agg(
        F.avg(F.col("location").isin(canonical).cast("double")).alias("r")
    ).first()
    for df in keep:
        df.unpersist()
    a, b = dict(model_obs.get), dict(round_obs.get)
    digest = {
        "rows": a["rows"] + b["rows"],
        "hash": str(int(a["hash"]) + int(b["hash"])),
        "bytes": a["bytes"] + b["bytes"],
    }
    return digest, {"link.facts.linked_ratio": row["r"]}, wall


def run_factory(ctx: Context) -> dict:
    n_turns = FACTORY_CONVS * TURNS_PER_CONV
    tr, input_s = _persisted_input(ctx, FACTORY_CONVS)
    # the first warm-up's triples digest is the reference every later op
    # (warm-up or timed) must match
    warmup_s, reference = _timed(lambda: _factory_op(ctx, tr))
    warmups_repeat = True
    for _ in range(FACTORY_WARMUP_OPS - 1):
        dt, digest = _timed(lambda: _factory_op(ctx, tr))
        warmup_s += dt
        warmups_repeat &= digest == reference

    def op():
        wall, digest = _timed(lambda: _factory_op(ctx, tr))
        return wall, digest == reference

    ops = Ops()
    ops.run(ctx.seconds, op, min_ops=FACTORY_MIN_OPS)
    out = {
        "ops": ops, "n_turns": n_turns,
        "setup_parts": {"warmup_ops_s": warmup_s, "input_s": input_s},
        "output_mb": reference["bytes"] / 2**20,
        "checks": {"digest_repeats": reference["rows"] > 0 and warmups_repeat
                   and ops.failed == 0},
        "info": {"triples_digest": reference},
    }
    out["peak_rss_mb"] = ctx.peak_rss_mb()
    if ctx.trace:
        tracer = spans.Tracer(ctx.spark)
        digest, counters, traced_wall = _factory_layered(ctx, tracer, tr)
        out["trace"] = _trace_result(tracer, traced_wall, statistics.median(ops.walls), counters)
        out["checks"]["layered_equals_pipeline"] = digest == reference
    out["checks"]["turn_order_check_is_0"] = turn_order_check(tr) == 0
    tr.unpersist()
    return out


# -- job_resume -----------------------------------------------------------------

def _commit(ctx: Context, tr, wh: Path) -> dict:
    return job_mod.run_resumable_kg_job(
        ctx.spark, tr, ctx.target_meta, ctx.diseases, TableIO(str(wh)),
        lineage_note=f"perfbench seed {ctx.seed}", dialect=DIALECT,
    )


def _rounds_of(manifest: dict) -> list:
    return sorted(manifest.get("metrics", {}).get("partitions", {}))


def _digest_and_drop(ctx: Context, wh: Path) -> tuple[dict, float]:
    """(per-table row digests, MB on disk) of a warehouse, then delete it."""
    mb = checks.dir_mb(str(wh))
    digest = checks.warehouse_digest(ctx.spark, TableIO(str(wh)))
    shutil.rmtree(wh, ignore_errors=True)
    return digest, mb


def _job_spans(tracer: spans.Tracer) -> dict:
    counters: dict = {}

    def add(key, value):
        counters[key] = counters.get(key, 0) + value

    def entities_after(rec, args, kwargs, stats):
        n = stats["n_surfaces"]
        rec["counters"]["memo_hit_ratio"] = 1 - stats["new_surfaces"] / n if n else 0.0
        counters["job.entities.memo_hit_ratio"] = rec["counters"]["memo_hit_ratio"]

    def near_dups_after(rec, args, kwargs, stats):
        rec["counters"]["dropped_rows"] = stats.get("dropped_rows", 0)
        add("job.near_dups.dropped_rows", rec["counters"]["dropped_rows"])

    def cc_after(rec, args, kwargs, result):
        rec["counters"]["iterations"] = kwargs["stats"]["iterations"]
        add("canon.cc.iterations", rec["counters"]["iterations"])

    def commit_after(rec, args, kwargs, result):
        # the graph span ends with the commit of its last table
        table = args[1] if len(args) > 1 else kwargs["table"]
        graph = tracer.is_open("job.graph")
        if table == "edges" and graph is not None:
            tracer.close(graph)

    def table_name(args, kwargs):
        return "tables.write." + (args[2] if len(args) > 2 else kwargs["table"])

    tracer.patch(job_mod, "rebuild_entities", "job.entities", after=entities_after)
    tracer.patch(job_mod, "rebuild_near_dups", "job.near_dups", after=near_dups_after)
    tracer.patch(canon, "connected_components", "canon.cc",
                 before=lambda kw: kw.setdefault("stats", {}), after=cc_after)
    tracer.patch(emit, "materialize_graph", "job.graph", keep_open=True)
    tracer.patch(TableIO, "write_data", table_name)
    tracer.patch(TableIO, "commit", "tables.commit", after=commit_after)
    return counters


def _traced_commit(ctx: Context, tr, wh: Path, traced: dict) -> dict:
    """The commit with the job's phases wrapped in spans; fills ``traced``
    with the tracer, counters and wall time, and returns the manifest."""
    tracer = spans.Tracer(ctx.spark)
    traced.update(tracer=tracer, counters=_job_spans(tracer))
    try:
        t0 = time.perf_counter()
        with tracer.span("job.self"):
            manifest = _commit(ctx, tr, wh)
        traced["wall"] = time.perf_counter() - t0
    finally:
        tracer.unpatch()
    tracer.finish()
    return manifest


def run_job_resume(ctx: Context) -> dict:
    """Set-up commits the whole corpus into an empty warehouse (the one-shot
    reference, which also warms the JVM), then round A alone into a template
    warehouse. Each op copies the template (untimed) and times the commit of
    round B on top of it; the result must be row-hash-identical to the
    one-shot warehouse."""
    tr, input_s = _persisted_input(ctx, JOB_CONVS)
    wh_root = ctx.work / "wh"
    shutil.rmtree(wh_root, ignore_errors=True)
    oneshot_s, manifest = _timed(lambda: _commit(ctx, tr, wh_root / "oneshot"))
    oneshot_ok = _rounds_of(manifest) == sorted(inputs.ROUND_IDS)
    reference, _ = _digest_and_drop(ctx, wh_root / "oneshot")

    round_a = job_mod.discover_round_of_conv(tr).filter(F.col("round_id") == inputs.ROUND_IDS[0])
    tr_a = tr.join(round_a.select("conv_id"), "conv_id", "left_semi")
    template = wh_root / "template"
    template_s, manifest = _timed(lambda: _commit(ctx, tr_a, template))
    template_ok = _rounds_of(manifest) == [inputs.ROUND_IDS[0]]

    state: dict = {}

    def resume_commit(wh: Path, commit):
        shutil.rmtree(wh, ignore_errors=True)
        shutil.copytree(template, wh)
        wall, manifest = _timed(lambda: commit(wh))
        digest, state["warehouse_mb"] = _digest_and_drop(ctx, wh)
        return wall, digest == reference and _rounds_of(manifest) == [inputs.ROUND_IDS[1]]

    def op():
        return resume_commit(wh_root / "resume", lambda wh: _commit(ctx, tr, wh))

    ops = Ops()
    ops.run(ctx.seconds, op)
    out = {
        "ops": ops, "n_turns": JOB_CONVS * TURNS_PER_CONV,
        "setup_parts": {"input_s": input_s, "oneshot_s": oneshot_s, "template_s": template_s},
        "output_mb": state.get("warehouse_mb"), "peak_rss_mb": ctx.peak_rss_mb(),
        "checks": {"oneshot_and_template_rounds": oneshot_ok and template_ok,
                   "resume_equals_oneshot": ops.failed == 0},
        "info": {"oneshot_digest": reference},
    }
    if ctx.trace:
        traced: dict = {}
        _, traced_ok = resume_commit(
            wh_root / "traced", lambda wh: _traced_commit(ctx, tr, wh, traced)
        )
        out["trace"] = _trace_result(traced["tracer"], traced["wall"],
                                     statistics.median(ops.walls), traced["counters"])
        out["checks"]["traced_equals_oneshot"] = traced_ok
    out["checks"]["turn_order_check_is_0"] = turn_order_check(tr) == 0
    shutil.rmtree(wh_root, ignore_errors=True)
    tr.unpersist()
    return out


# -- traced-run summary ---------------------------------------------------------

def _trace_result(tracer: spans.Tracer, traced_wall: float, untraced_wall: float,
                  counters: dict) -> dict:
    return {
        "spans": tracer.spans,
        "counters": counters,
        "op_wall_s": traced_wall,
        "untraced_op_wall_s": untraced_wall,
        "overhead_s": traced_wall - untraced_wall,
        **tracer.summary,
    }


WORKLOADS = {"factory": run_factory, "job_resume": run_job_resume}
