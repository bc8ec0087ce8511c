"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cc_scan --seed 1 --seconds 16 --trace 0

Run from the repository root.  ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` is the separate traced run that
reports the per-layer metrics.  Progress goes to stderr; stdout carries a
``# probe`` line and, last, the result object.  The exit code is 0 only
when every url's output matched the oracle.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = os.path.join(ROOT, "perfbench", "data", "documents.parquet")
WORK = os.path.join(ROOT, ".perfbench_work")

MAX_SLOTS = 3        # task slots: one CPU of the 4-vCPU sizing box stays free
SETUP_ROUNDS = 3     # setup_s is the median of this many set-ups
TRACE_ROUNDS = 2     # traced run: a cold set-up, then one warm restart
MIN_PAIRS = 5        # timed (pass, resume) pairs per run, at the least
FLOOR_REPS = 3       # traced run: reps of each Spark floor / stage pass
PIPELINE_ITERS = 2   # traced run: resumable_write run + resume pairs
REPLAY_REPS = 3      # traced run: untraced/traced replay pairs
ARROW_BATCH = 2048   # spark.sql.execution.arrow.maxRecordsPerBatch (session.py)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def task_slots() -> int:
    return max(1, min(MAX_SLOTS, len(os.sched_getaffinity(0))))


def start_session(work: str, slots: int):
    from swiftsoup_spark.spark.session import get_spark
    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        master=f"local[{slots}]", app="perfbench",
        shuffle_partitions=2 * slots,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed-size heap: its growth would be noise in peak_rss_mb
            "spark.driver.extraJavaOptions":
                f"-Xms1g -Djava.io.tmpdir={tmp}",
            # one input split per corpus file (files are never packed)
            "spark.sql.files.maxPartitionBytes": "1g",
            "spark.sql.files.openCostInBytes": "1g",
            "spark.ui.showConsoleProgress": "false",
        })


def corpus_stats(con, files: list[str]) -> tuple[int, float, int]:
    """(docs, html MB, Arrow batches the kernel sees) of the corpus."""
    import pyarrow.parquet as pq
    batches = docs = 0
    for f in files:
        n = pq.ParquetFile(f).metadata.num_rows
        docs += n
        batches += -(-n // ARROW_BATCH)
    mb = con.execute("SELECT sum(octet_length(html)) FROM read_parquet(?)",
                     [files]).fetchone()[0] / 1e6
    return docs, mb, batches


def gate(w, con) -> tuple[int, int, list[str]]:
    """(attempted, failed, errors) of the correctness gate."""
    failed_docs, errors = w.check(con)
    return w.docs, failed_docs + len(errors), errors


def run(args, work: str) -> dict:
    import duckdb
    from perfbench import procstat, workloads

    slots = task_slots()
    w = workloads.make(args.workload, args.seed, work, DOCS)
    pre_build = time.perf_counter() - T_START
    # build the native kernel in this checkout before anything is timed
    t = time.perf_counter()
    from swiftsoup_spark.kernel import fastpath
    native = fastpath.get_module() is not None
    build_s = time.perf_counter() - t
    probe = procstat.machine_probe(slots)
    print("# probe " + json.dumps(probe), flush=True)
    log(f"native={native} build {build_s:.2f}s probe {probe}")

    # Set up SETUP_ROUNDS times (session start, corpus generation, warm
    # pass); the traced run sets up twice.  The first set-up starts the
    # JVM and is never followed by timed work.  After each later set-up
    # the run times (full pass, resume) pairs: until its share of
    # --seconds is spent, and in any case until MIN_PAIRS pairs,
    # pro rata, have been timed by then.
    rounds = TRACE_ROUNDS if args.trace else SETUP_ROUNDS
    setup, session_s, gen_s, passes, resumes = [], [], [], [], []
    spark = None
    with procstat.PeakMemory() as rss:
        for r in range(rounds):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
                shutil.rmtree(os.path.join(work, f"round{r - 1}"))
            spark = start_session(work, slots)
            session_s.append(time.perf_counter() - t0)
            # the pipeline's probe for a missing manifest logs a WARN
            # with a stack trace on every fresh run
            spark.sparkContext.setLogLevel("ERROR")
            t = time.perf_counter()
            w.generate(spark, f"round{r}")
            gen_s.append(time.perf_counter() - t)
            w.warm(spark, last=r == rounds - 1)
            setup.append(time.perf_counter() - t0 + (pre_build if r == 0 else 0))
            log(f"setup round {r}: {setup[-1]:.2f}s (session "
                f"{session_s[-1]:.2f}s, corpus {gen_s[-1]:.2f}s)")
            if r == 0 or args.trace:
                continue
            t_end = time.perf_counter() + args.seconds / (rounds - 1)
            need = -(-MIN_PAIRS * r // (rounds - 1))
            while (len(passes) < need or time.perf_counter()
                   + passes[-1] + resumes[-1] <= t_end):
                passes.append(w.full_pass(spark, len(passes)))
                resumes.append(w.resume(spark))
        if args.trace:
            layer = traced(args, w, spark)

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb')}'")
    con.execute(f"SET threads = {slots}")
    docs, mb, batches = corpus_stats(con, w.corpus_files())
    attempted, failed, errors = gate(w, con)
    con.close()
    for e in errors:
        log(f"GATE: {e}")
    log(f"corpus {docs} docs {mb:.1f} MB; gate: {failed}/{attempted} failed")

    if args.trace:
        values = dict(layer)
        values.update({
            # the warm restart's, as setup_s counts them; the cold JVM
            # launch is session.cold_start_s
            "session.start_s": session_s[-1], "corpus.gen_s": gen_s[-1],
            "session.cold_start_s": session_s[0],
            "corpus.docs": docs, "corpus.html_mb": mb,
            "extract.batches": batches, "extract.rows_per_batch": docs / batches,
            # the handoff floor plus the kernel's single-core replay time
            # spread over the task slots, as a share of the measured stage
            "extract.accounted_share": (
                layer["extract.handoff_floor_s"]
                + layer["replay.corpus_core_s"] / slots)
            / layer["extract.stage_s"],
        })
        units = PER_LAYER
    else:
        med = statistics.median(passes)
        values = {
            "docs_per_s": docs / med, "html_mb_per_s": mb / med,
            "resume_s": statistics.median(resumes),
            "setup_s": statistics.median(setup),
            "peak_rss_mb": rss.peak / 1e6,
            "correct_doc_share": 1 - failed / attempted,
        }
        units = END_TO_END
        log("passes " + " ".join(f"{p:.3f}" for p in passes))
        log("resumes " + " ".join(f"{p:.3f}" for p in resumes))
        log("setups " + " ".join(f"{s:.2f}" for s in setup))
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def traced(args, w, spark) -> dict:
    """Per-layer numbers: Spark floors and stage, the resume pipeline's
    driver-side spans, then an in-process replay of each kernel."""
    from perfbench import tracing
    from perfbench.workloads import noop

    def identity(it):
        yield from it

    # each floor is summed over the workload's corpora, as a pass is
    floors = {"extract.scan_floor_s": [], "extract.handoff_floor_s": [],
              "extract.stage_s": []}
    for _ in range(FLOOR_REPS):
        for key in floors:
            floors[key].append(0.0)
        for p in w.parts:
            src = p.kernel_input(p.pages(spark))
            for key, df in (("extract.scan_floor_s", src),
                            ("extract.handoff_floor_s",
                             src.mapInArrow(identity, src.schema)),
                            ("extract.stage_s", p.operator(p.pages(spark)))):
                t = time.perf_counter()
                noop(df)
                floors[key][-1] += time.perf_counter() - t
    log("floors " + json.dumps({k: [round(x, 3) for x in v]
                                for k, v in floors.items()}))
    out = {k: statistics.median(v) for k, v in floors.items()}
    out.update(pipeline_metrics(w, spark))

    # replay: each operator's own mapInArrow function over its corpus's
    # batches; untraced and traced replays alternate, medians give the
    # overhead, the last traced replay gives the spans
    kernels = [(tracing.capture_kernel(lambda p=p: p.operator(p.pages(spark))),
                replay_batches(p)) for p in w.parts]
    for kernel, batches in kernels:
        tracing.replay(kernel, batches[:1])      # warm the driver's caches
    plain, timed = [], []
    for _ in range(REPLAY_REPS):
        plain.append([tracing.replay(k, b) for k, b in kernels])
        tracer = tracing.Tracer()
        timed.append(sum(tracing.replay(k, b, tracer) for k, b in kernels))
    per_part = [statistics.median(r[i] for r in plain)
                for i in range(len(kernels))]
    untraced, traced_s = sum(per_part), statistics.median(timed)
    n = sum(len(b) for _, batches in kernels for b in batches)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.write(os.path.join(
        WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.parquet"))
    log(f"replay {n} docs: untraced {untraced:.2f}s traced {traced_s:.2f}s")
    out.update(tracing.layer_metrics(tracer))
    out.update({
        "replay.docs": n,
        "replay.docs_per_s": n / untraced,
        "replay.traced_docs_per_s": n / traced_s,
        "trace.overhead_share": traced_s / untraced - 1,
        # single-core kernel seconds for the whole corpus
        "replay.corpus_core_s": sum(
            s * p.spec.docs / sum(len(b) for b in batches)
            for s, p, (_, batches) in zip(per_part, w.parts, kernels)),
    })
    return out


def replay_batches(p) -> list:
    """The Arrow batches Spark would hand ``p``'s kernel: whole split
    files, up to ARROW_BATCH rows per batch, until ``replay_docs``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    batches, n = [], 0
    for f in p.files():
        t = pq.read_table(f)
        if "bucket" in p.keep_cols:     # pass-through column; value unused
            t = t.append_column("bucket", pa.array([0] * len(t), pa.int32()))
        t = t.select(list(p.keep_cols) + ["html"]).combine_chunks()
        batches += t.to_batches(max_chunksize=ARROW_BATCH)
        n += len(t)
        if n >= p.spec.replay_docs:
            break
    return batches


def pipeline_metrics(w, spark) -> dict:
    """Driver-side spans around the pipeline's write and manifest steps
    (resumable_write only; the other workloads write nothing: zeros)."""
    from perfbench import tracing, workloads
    keys = [k for k in PER_LAYER if k.startswith("pipeline.")]
    if not isinstance(w, workloads.ResumableWrite):
        return dict.fromkeys(keys, 0)
    import duckdb
    from swiftsoup_spark.spark import pipeline

    runs, manifest, files, skipped = [], [], [], []

    def on_write(counts, args, r):
        files.append(len(workloads.data_files(os.path.dirname(args[2]))))

    for i in range(PIPELINE_ITERS):
        tracer = tracing.Tracer()
        targets = [
            (pipeline.ParquetFormat, "overwrite_partitions",
             tracer.wrap("pipeline.write",
                         pipeline.ParquetFormat.overwrite_partitions, on_write)),
            (pipeline, "done_buckets",
             tracer.wrap("pipeline.done_buckets", pipeline.done_buckets,
                         lambda c, a, r: skipped.append(len(r)))),
        ]
        with tracing.patched(targets):
            full = w.full_pass(spark, i)
            w.resume(spark)
        runs.append(full)
        # the first write span is the full run's, the second the resume's
        manifest.append(full - tracer.durations("pipeline.write")[0])
    parts = workloads.data_files(w.out_dir)
    stored = sum(os.path.getsize(f) for f in parts)
    text_bytes = duckdb.connect().execute(
        "SELECT sum(strlen(text)) FROM read_parquet(?)", [parts]).fetchone()[0]
    return {
        "pipeline.run_s": statistics.median(runs),
        "pipeline.manifest_s": statistics.median(manifest),
        "pipeline.files_written": files[0],
        "pipeline.stored_bytes_per_text_byte": stored / text_bytes,
        "pipeline.buckets_skipped": skipped[-1],
        "pipeline.buckets_redone": len(w.redone),
    }


# name -> unit; the order is the output order
END_TO_END = {
    "docs_per_s": "docs/s", "html_mb_per_s": "MB/s", "resume_s": "s",
    "setup_s": "s", "peak_rss_mb": "MB", "correct_doc_share": "share",
}
PER_LAYER = {
    "session.start_s": "s", "session.cold_start_s": "s", "corpus.gen_s": "s",
    "corpus.docs": "count", "corpus.html_mb": "MB",
    "extract.stage_s": "s", "extract.scan_floor_s": "s",
    "extract.handoff_floor_s": "s", "extract.batches": "count",
    "extract.rows_per_batch": "count", "extract.row_self_s": "s",
    "extract.accounted_share": "share",
    "decode.busy_s": "s", "decode.docs": "count",
    "fastpath.stream_busy_s": "s", "fastpath.stream_docs": "count",
    "fastpath.stream_accept_share": "share",
    "fastpath.tier2_accept_share": "share",
    "fastpath.arena_busy_s": "s", "fastpath.arena_nodes": "count",
    "fastpath.arena_accept_share": "share",
    "treebuilder.busy_s": "s", "treebuilder.docs": "count",
    "treebuilder.nodes": "count", "treebuilder.parse_errors": "count",
    "select.busy_s": "s", "select.calls": "count", "select.matches": "count",
    "arena.node_text_busy_s": "s", "arena.node_text_calls": "count",
    "arena.node_text_chars": "count",
    "maincontent.self_s": "s", "maincontent.candidates": "count",
    "maincontent.body_fallback_share": "share",
    "pipeline.run_s": "s", "pipeline.manifest_s": "s",
    "pipeline.files_written": "count",
    "pipeline.stored_bytes_per_text_byte": "ratio",
    "pipeline.buckets_skipped": "count", "pipeline.buckets_redone": "count",
    "replay.docs": "count", "replay.docs_per_s": "docs/s",
    "replay.traced_docs_per_s": "docs/s", "trace.overhead_share": "share",
    "trace.spans": "count",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "swiftsoup_spark")):
        print("perfbench: no swiftsoup_spark/ next to perfbench/; run from "
              "a full checkout", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # no hsperfdata files in /tmp from the JVMs spark-submit starts
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots())
    try:
        result = run(args, work)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def _stop_spark() -> None:
    """Stop the session, then the gateway JVM, and wait for every process
    this run started to end."""
    from perfbench import procstat
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()      # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    procstat.wait_children(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
