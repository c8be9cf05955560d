"""The four workloads. Each one generates its inputs from the seed, builds
the reference its ops are checked against, and runs one op as a closed-loop
client would: call the program, wait for the result, check it."""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

import __spark_entry__ as entry
from samu_ocr_extraction_poc_spark.plans.pipeline import extract_document, run_extraction, run_resumable
from samu_ocr_extraction_poc_spark.schema import RESULT_SCHEMA
from samu_ocr_extraction_poc_spark.sources.readers import load_documents

import gen
import probes

RESULT_COLS = [f.name for f in RESULT_SCHEMA.fields if f.name != "proc_us"]
ARROW_RESULT = to_arrow_schema(RESULT_SCHEMA)


@dataclass
class OpResult:
    """One op: its wall and the process tree's CPU time, what it processed,
    whether its output checked out, and (traced) the Spark jobs it ran."""

    wall_s: float
    docs: int
    spans: int = 0
    ok: bool = True
    why: str = ""
    proc_s: float = 0.0
    cpu_s: float = 0.0
    layers: dict = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)
    stats: probes.JobStats | None = None


def digest(df) -> tuple:
    """(rows, error rows, order-independent digest, summed proc_us) of a
    result frame. The digest XORs two 60-bit slices of each row's sha256
    over its JSON form, every result column but the ``proc_us`` timing.
    It is one aggregate, so it doubles as the op's sink."""
    h = F.sha2(F.to_json(F.struct(*RESULT_COLS)), 256)
    row = (
        df.select(h.alias("h"), "status", "proc_us")
        .agg(
            F.count("*").alias("rows"),
            F.sum((F.col("status") == "error").cast("long")).alias("errors"),
            F.bit_xor(F.conv(F.substring("h", 1, 15), 16, 10).cast("long")).alias("x1"),
            F.bit_xor(F.conv(F.substring("h", 16, 15), 16, 10).cast("long")).alias("x2"),
            F.sum("proc_us").alias("proc_us"),
        )
        .collect()[0]
    )
    return row["rows"], row["errors"] or 0, (row["x1"], row["x2"]), (row["proc_us"] or 0) / 1e6


def reference_digest(spark, corpus: gen.Corpus, path: str) -> tuple:
    """The digest of the corpus extracted document by document in this
    process, outside Spark's Arrow stage, written to ``path`` as parquet and
    put through the same aggregate."""
    rows = [extract_document(d, s, gen.OCR_LOOKUP) for d, s in zip(corpus.doc_ids, corpus.spans)]
    pq.write_table(pa.Table.from_pylist(rows, schema=ARROW_RESULT), path)
    return digest(spark.read.parquet(path))[:3]


class Workload:
    name = ""
    input_path = ""
    n_docs = 0
    n_spans = 0
    corpus: gen.Corpus | None = None
    expected_errors = 0
    ref = None  # set by reference(); warm-up ops that end before it are unchecked
    warmup_ops = 2  # unmeasured ops after the first, while the JIT warms

    def __init__(self, seed: int, workdir: str, scale: float):
        self.seed, self.workdir, self.scale = seed, workdir, scale

    def sized(self, n: int, floor: int = 1) -> int:
        return max(floor, int(round(n * self.scale)))

    def generate(self, spark, out: str) -> None:
        """Build the inputs from the seed and write them under ``out``."""
        raise NotImplementedError

    def reference(self, spark) -> None:
        """Read the inputs back and build what every op is checked against.
        It runs on a second thread alongside the warm-up ops, so ``ref`` is
        set once, when it is complete."""
        raise NotImplementedError

    def op(self, spark, i: int, traced: bool) -> OpResult:
        raise NotImplementedError

    def input_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(self.input_path) for f in fs if f.endswith(".parquet"))


class Extract(Workload):
    """One op is ``run_extraction`` over a scan of the materialized table,
    sunk into the digest aggregate."""

    n_files = 8
    # the process tree's CPU time per op falls for about a dozen ops while
    # the JIT compiles (12, 8, 7.4, 6.9 ... 6.5 at the 8th, then a plateau
    # of ~5.1 CPU-seconds from the 13th on, on the 4-core host)
    warmup_ops = 12

    def frame(self, spark):
        """The seeded input as a ``documents`` frame; sets
        ``expected_errors``."""
        raise NotImplementedError

    def generate(self, spark, out: str) -> None:
        gen.materialize(self.frame(spark), out, self.n_files)
        self.input_path = out

    def reference(self, spark) -> None:
        self.corpus = gen.read_corpus(self.input_path)
        self.n_docs, self.n_spans = len(self.corpus.doc_ids), self.corpus.n_spans
        self.ref = reference_digest(spark, self.corpus, os.path.join(self.workdir, "reference.parquet"))
        if self.ref[:2] != (self.n_docs, self.expected_errors):
            raise RuntimeError(f"reference pass gave {self.ref[:2]}, generator expects "
                               f"{(self.n_docs, self.expected_errors)}")

    def op(self, spark, i: int, traced: bool) -> OpResult:
        j0 = probes.next_job_id(spark)
        t0 = time.perf_counter()
        rows, errors, dig, proc_s = digest(run_extraction(load_documents(spark, self.input_path),
                                                          ocr_lookup=gen.OCR_LOOKUP))
        wall = time.perf_counter() - t0
        ok = self.ref is None or (rows, errors, dig) == self.ref
        why = "" if ok else f"got {(rows, errors, dig)}, want {self.ref}"
        return OpResult(wall, self.n_docs, self.n_spans, ok, why, proc_s,
                        jobs=list(range(j0, probes.next_job_id(spark))))


class ExtractMixed(Extract):
    """The whole sf0.1 ``documents`` table through ``synth_corpus_from_documents``
    (5,000 small documents of every family) and one malformed pleading per
    500: per-document overhead dominates."""

    name = "extract_mixed"

    def frame(self, spark):
        n_docs = self.sized(5000, 40)
        self.expected_errors = max(1, n_docs // 500)
        # past 5,000 the table is replicated: --scale 20 gives ~10^5 documents
        return gen.synth(spark, self.seed, "sf0.1", min(n_docs, 5000), -(-n_docs // 5000)).union(
            gen.as_frame(spark, gen.bad_pleadings(self.seed, self.expected_errors)))


class ExtractBook(Extract):
    """Book-scale filings among a few small ones: per-span work and one
    straggling task dominate."""

    name = "extract_book"

    def frame(self, spark):
        self.expected_errors = 1
        books = gen.books(self.seed, n_books=self.sized(24, 3), giant_pages=self.sized(600, 12),
                          letter_pages=self.sized(150, 12), pleading_pages=self.sized(80, 12),
                          lines_per_page=20)
        small = gen.synth(spark, self.seed, "sf0.01", self.sized(400, 20))
        return gen.as_frame(spark, books + gen.bad_pleadings(self.seed, 1)).union(small)


class ResumeWrite(Workload):
    """One op is ``run_resumable`` into a fresh directory, then again on the
    same input and directory; the second call must find all work done. It
    exercises the partitioned write, the lineage append and the anti-join
    resume path."""

    name = "resume_write"
    n_parts = 8

    def generate(self, spark, out: str) -> None:
        gen.materialize(gen.synth(spark, self.seed, "sf0.01", self.sized(500, 20), replicate=6), out, 4)
        self.input_path = out

    def reference(self, spark) -> None:
        self.corpus = gen.read_corpus(self.input_path)
        self.n_docs, self.n_spans = len(self.corpus.doc_ids), self.corpus.n_spans
        self.ref = reference_digest(spark, self.corpus, os.path.join(self.workdir, "reference.parquet"))

    @classmethod
    def over(cls, wl: Extract) -> ResumeWrite:
        """The same op over an extraction workload's input, checked against
        that workload's reference."""
        probe = cls(wl.seed, wl.workdir, wl.scale)
        probe.corpus, probe.input_path, probe.ref = wl.corpus, wl.input_path, wl.ref
        probe.n_docs, probe.n_spans = wl.n_docs, wl.n_spans
        return probe

    def _results(self, spark, out: str) -> tuple:
        return digest(spark.read.parquet(f"{out}/results").select(*RESULT_SCHEMA.fieldNames()))

    def _check(self, spark, out: str, first: tuple) -> list[str]:
        problems = []
        if first[:3] != self.ref:
            problems.append(f"first call results {first[:3]} != reference {self.ref}")
        if self._results(spark, out)[:3] != first[:3]:
            problems.append("resume changed the results")
        redone = spark.read.parquet(f"{out}/lineage").where(F.col("run_id") == "resume").agg(
            F.coalesce(F.sum("n_docs"), F.lit(0))).collect()[0][0]
        if redone:
            problems.append(f"resume reprocessed {redone} documents")
        return problems

    def op(self, spark, i: int, traced: bool) -> OpResult:
        out = os.path.join(self.workdir, f"resume-op-{i}")
        docs = load_documents(spark, self.input_path)
        j0 = probes.next_job_id(spark)
        t0 = time.perf_counter()
        run_resumable(spark, docs, out, run_id="first", n_parts=self.n_parts, ocr_lookup=gen.OCR_LOOKUP)
        first_s = time.perf_counter() - t0
        jobs = list(range(j0, probes.next_job_id(spark)))
        # untimed: the first call's output, before the resume
        written = [os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")]
        first = self._results(spark, out) if self.ref is not None else None
        lineage_rows = spark.read.parquet(f"{out}/lineage").count()
        j1 = probes.next_job_id(spark)
        t1 = time.perf_counter()
        run_resumable(spark, docs, out, run_id="resume", n_parts=self.n_parts, ocr_lookup=gen.OCR_LOOKUP)
        resume_s = time.perf_counter() - t1
        jobs += range(j1, probes.next_job_id(spark))
        problems = [] if first is None else self._check(spark, out, first)
        shutil.rmtree(out, ignore_errors=True)
        bytes_written = sum(written)
        return OpResult(
            first_s + resume_s, self.n_docs, self.n_spans, not problems, "; ".join(problems),
            first[3] if first else 0.0,
            layers={"write.s": first_s, "resume.s": resume_s, "write.bytes": bytes_written,
                    "write.files": len(written), "lineage.rows": lineage_rows,
                    "write.amp": bytes_written / self.input_bytes()},
            jobs=jobs,
        )


CURATION_QUERIES = ["dedup_components", "dedup_apply", "bpe_train_merges", "pagerank", "curate_corpus"]


def _norm(v):
    """Type-tagged canonical form, so an int never equals a float."""
    if v is None:
        return ("null", "")
    if isinstance(v, bool):
        return ("bool", str(v))
    if isinstance(v, int):
        return ("int", str(v))
    if isinstance(v, float):
        return ("float", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, (list, tuple)):
        return ("list", str([_norm(x) for x in v]))
    return (type(v).__name__, str(v))


def canonical(cols: list[str], rows: list[tuple]) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


class Curation(Workload):
    """One op is the fixed sequence of iterative contract queries, each
    collected and compared with its DuckDB oracle: driver planning and job
    scheduling dominate."""

    name = "curation_loops"
    # op walls keep falling for three ops while the JVM warms: ~27 s cold,
    # then ~12, ~9.6, ~8.7 s on the 4-core host
    warmup_ops = 1

    def generate(self, spark, out: str) -> None:
        self.n_docs = gen.curation_table(self.seed, self.sized(500, 60), out)
        self.input_path = out

    def reference(self, spark) -> None:
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads TO {probes.cores()}")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.input_path}/documents.parquet'")
        oracles = entry.oracle_sql()
        ref = {}
        for q in CURATION_QUERIES:
            res = con.execute(oracles[q])
            cols = [d[0] for d in res.description]
            ref[q] = canonical(cols, res.fetchall())
        con.close()
        self.ref = ref  # whole, in one step: the warm-up op may be reading it

    def op(self, spark, i: int, traced: bool) -> OpResult:
        sc = spark.sparkContext
        wall, problems, layers, jobs = 0.0, [], {}, []
        queries = entry.queries()
        for q in CURATION_QUERIES:
            sc.setJobGroup(f"op-{i}/{q}", q)
            j0 = probes.next_job_id(spark)
            t0 = time.perf_counter()
            df = queries[q](spark, self.input_path)
            rows = df.collect()
            q_s = time.perf_counter() - t0
            wall += q_s
            jobs += range(j0, probes.next_job_id(spark))
            got = canonical(df.columns, [tuple(r) for r in rows])
            if self.ref is not None and got != self.ref[q]:
                problems.append(f"{q}: {len(got)} rows differ from the oracle's {len(self.ref[q])}")
            if traced:
                st = probes.job_stats(spark, range(j0, probes.next_job_id(spark)))
                layers[q] = (q_s, probes.planning_ms(df), st)
        return OpResult(wall, self.n_docs, 0, not problems, "; ".join(problems), layers=layers, jobs=jobs)


WORKLOADS = {w.name: w for w in (ExtractMixed, ExtractBook, ResumeWrite, Curation)}

