"""The two workloads: their corpora, operators, timed passes, resumes and
correctness gate.

Every timed pass is a full Spark job over a whole corpus (no ``limit()``,
no single-task stage); a corpus is written as ``splits`` parquet files,
one input split each, at least twice the task slots.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np

from perfbench import corpus

N_BUCKETS = 8           # run_extraction's url-hash buckets
RESUME_BUCKETS = 1      # buckets dropped from the manifest and redone


@dataclass(frozen=True)
class Spec:
    """One seeded page corpus and the operator that reads it."""
    name: str                 # its directory inside a set-up
    salt: int                 # mixed into the seed so corpora differ
    docs: int
    splits: int
    variant_mix: tuple        # ((template, weight), ...)
    n_hosts: int
    host_zipf: float | None   # Zipf exponent of the host draw, or uniform
    replay_docs: int          # docs the traced run replays in-process
    operator: str             # "css_scope" | "heuristic" | "pipeline"


# pages with a known container id: the production boilerplate strip;
# 12% are pages.py variant pages
KNOWN_ID = Spec("known_id", 1, 16_000, 9,
                (("cc", 0.88),) + tuple((v, 0.012) for v in corpus.VARIANTS),
                2000, None, 8_000, "css_scope")
# pages whose main container has no known id: DOM heuristics
NO_ID = Spec("no_id", 2, 3_000, 6,
             (("dom_section", 0.32), ("dom_divs", 0.32), ("dom_table", 0.31),
              ("dom_chrome", 0.05)),
             2000, None, 1_200, "heuristic")
# host-skewed pages for the resumable bucketed parquet write
SKEWED = Spec("skewed", 3, 3_000, 6, (("cc", 1.0),), 400, 1.3, 1_000, "pipeline")

WORKLOAD_SPECS = {"cc_scan": (KNOWN_ID, NO_ID), "resumable_write": (SKEWED,)}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bucket_col():
    from pyspark.sql import functions as F
    return F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).cast("int")


class Part:
    """One corpus of a run: its plan, page table and operator."""

    def __init__(self, spec: Spec, seed: int, docs_path: str):
        self.spec = spec
        self.seed = seed
        self.docs_path = docs_path
        self.variants = [v for v, _ in spec.variant_mix]
        self.keep_cols = (("url", "bucket") if spec.operator == "pipeline"
                          else ("url",))

    def generate(self, spark, d: str) -> None:
        """Plan from the seed, then the page table with Spark; no reuse
        of an earlier corpus."""
        plan_dir = os.path.join(d, "plan")
        corpus.write_plan(corpus.make_plan(
            self.spec, self.seed, corpus.load_documents(self.docs_path)),
            plan_dir, self.spec.splits)
        self.plan_path = os.path.join(plan_dir, "*.parquet")
        self.corpus_dir = os.path.join(d, "pages")
        corpus.write_corpus(spark, plan_dir, self.docs_path,
                            self.corpus_dir, self.variants)
        self.out_dir = os.path.join(d, "out")

    def files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.corpus_dir, "*.parquet")))

    def pages(self, spark):
        return spark.read.parquet(self.corpus_dir)

    def kernel_input(self, pages):
        """The columns the operator hands to ``mapInArrow``."""
        if "bucket" in self.keep_cols:      # as run_extraction adds it
            pages = pages.withColumn("bucket", bucket_col())
        return pages.select(*self.keep_cols, "html")

    def operator(self, pages):
        from swiftsoup_spark.ops.maincontent import main_content_over
        from swiftsoup_spark.spark.extract import extract_pages
        if self.spec.operator == "css_scope":
            return extract_pages(pages, css_scope="#main")
        if self.spec.operator == "heuristic":
            return main_content_over(pages)
        # the extraction stage inside run_extraction
        return extract_pages(self.kernel_input(pages), "#main",
                             keep_cols=("bucket",), metrics=True)

    def failures(self, con, got: str) -> int:
        """Docs of ``got`` (parquet glob of url, text[, title]) that
        miss the oracle."""
        corpus.expected_view(con, self.plan_path, self.docs_path,
                             self.variants)
        title = self.spec.operator == "css_scope"
        c = corpus.check_output(
            con, f"SELECT url, text{', title' if title else ''} "
                 f"FROM read_parquet('{got}')", title)
        return c["wrong"] + c["missing"] + c["extra"] + c["dup"]


class Workload:
    """A run's corpora (one ``Part`` each) and what is timed over them."""

    def __init__(self, specs, seed: int, work: str, docs_path: str):
        self.parts = [Part(s, seed, docs_path) for s in specs]
        self.work = work
        rng = np.random.default_rng([seed, 99])
        self.dropped = sorted(int(b) for b in rng.choice(
            N_BUCKETS, RESUME_BUCKETS, replace=False))

    @property
    def docs(self) -> int:
        return sum(p.spec.docs for p in self.parts)

    def generate(self, spark, tag: str) -> None:
        for p in self.parts:
            p.generate(spark, os.path.join(self.work, tag, p.spec.name))

    def corpus_files(self) -> list[str]:
        return [f for p in self.parts for f in p.files()]

    def warm(self, spark, last: bool) -> None:
        """The untimed warm pass of a set-up; ``last``: keep the gate's
        output."""
        raise NotImplementedError

    def full_pass(self, spark, i: int) -> float:
        """Seconds of one timed pass over the whole corpus."""
        raise NotImplementedError

    def resume(self, spark) -> float:
        """Seconds to redo the dropped buckets."""
        raise NotImplementedError

    def check(self, con) -> tuple[int, list[str]]:
        """(failed docs, structural errors) of the checked output: the
        last warm pass's (scans) or the last timed pass's (writes)."""
        raise NotImplementedError


class ScanWorkload(Workload):
    """Each corpus through its operator into a noop sink.  A resume is the
    production strip (the first corpus's operator) over the dropped
    buckets' pages only: the scans have no resume of their own, but every
    workload reports ``resume_s``."""

    def warm(self, spark, last):
        for p in self.parts:
            if last:
                p.operator(p.pages(spark)).write.parquet(p.out_dir)
            else:
                noop(p.operator(p.pages(spark)))

    def full_pass(self, spark, i):
        dfs = [p.operator(p.pages(spark)) for p in self.parts]
        t = time.perf_counter()
        for df in dfs:
            noop(df)
        return time.perf_counter() - t

    def resume(self, spark):
        p = self.parts[0]
        df = p.operator(p.pages(spark).filter(bucket_col().isin(self.dropped)))
        t = time.perf_counter()
        noop(df)
        return time.perf_counter() - t

    def check(self, con):
        return sum(p.failures(con, f"{p.out_dir}/*.parquet")
                   for p in self.parts), []


class ResumableWrite(Workload):
    """run_extraction into parquet buckets + manifest; a resume drops the
    seeded buckets from the manifest and runs again."""

    def run(self, spark, out: str) -> float:
        from swiftsoup_spark.spark.pipeline import run_extraction
        t = time.perf_counter()
        run_extraction(spark, self.parts[0].pages(spark), out,
                       n_buckets=N_BUCKETS, css_scope="#main")
        return time.perf_counter() - t

    def drop_buckets(self, out: str) -> None:
        """Remove the dropped buckets' rows from the manifest."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        man = os.path.join(out, "_manifest")
        t = pq.read_table(man)
        dropped = pa.array(self.dropped, pa.int32())
        keep = t.filter(pc.invert(pc.is_in(t["bucket"], value_set=dropped)))
        shutil.rmtree(man)
        os.makedirs(man)
        pq.write_table(keep, os.path.join(man, "part-00000.parquet"))

    def warm(self, spark, last):
        self.out_dir = self.parts[0].out_dir
        self.run(spark, self.out_dir)

    def full_pass(self, spark, i):
        """A run into a fresh directory, which later resumes use and the
        gate reads."""
        out = os.path.join(self.work, f"pass{i}")
        t = self.run(spark, out)
        if i:
            shutil.rmtree(os.path.join(self.work, f"pass{i - 1}"))
        self.out_dir = out
        return t

    def resume(self, spark):
        self.drop_buckets(self.out_dir)
        t_ns = time.time_ns()
        t = self.run(spark, self.out_dir)
        self.redone = rewritten_buckets(self.out_dir, t_ns)
        return t

    def check(self, con):
        errors = []
        ext = os.path.join(self.out_dir, "extracted")
        failed = self.parts[0].failures(con, f"{ext}/*/*.parquet")
        total, rows, not_done = con.execute(
            "SELECT sum(row_count), count(*), count(*) FILTER "
            "(WHERE status <> 'done') FROM read_parquet("
            f"'{self.out_dir}/_manifest/*.parquet')").fetchone()
        dirs = len(glob.glob(os.path.join(ext, "bucket=*")))
        if total != self.docs:
            errors.append(f"manifest row_count sum {total} != {self.docs}")
        if rows != dirs or not_done:
            errors.append(f"manifest has {rows} rows ({not_done} not done) "
                          f"for {dirs} bucket dirs")
        if self.redone != self.dropped:
            errors.append(f"resume rewrote buckets {self.redone}, "
                          f"dropped {self.dropped}")
        return failed, errors


def data_files(out: str) -> list[str]:
    return glob.glob(os.path.join(out, "extracted", "bucket=*", "*.parquet"))


def rewritten_buckets(out: str, since_ns: int) -> list[int]:
    """Buckets whose data files were written at or after ``since_ns``."""
    hit = set()
    for f in data_files(out):
        if os.stat(f).st_mtime_ns >= since_ns:
            hit.add(int(os.path.basename(os.path.dirname(f)).split("=")[1]))
    return sorted(hit)


WORKLOADS = {"cc_scan": ScanWorkload, "resumable_write": ResumableWrite}


def make(name: str, seed: int, work: str, docs_path: str) -> Workload:
    return WORKLOADS[name](WORKLOAD_SPECS[name], seed, work, docs_path)
