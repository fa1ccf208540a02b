"""The benchmark's workloads: inputs, one timed operation, output checks.

An operation is the complete job a user runs, timed by wall clock around
the public call, followed by a resume pass over the committed result.
Every check runs after the timers stop and reports failures as strings.

- ``extract_job``: ``run_extraction_job`` over the ``write_corpus`` spans
  corpus. No bytes are parsed; the Arrow crossing, the ``core/`` fold and
  the sinks do the work.
- ``file_ingest``: ``ingest_files_distributed`` → ``run_extraction_job``
  over real PDF/EPUB/DOCX/TXT files with planted corrupt ones. Parsing
  dominates, and the resume pass re-reads every file.
- ``curation_mix``: ``prepare_training_mix`` with an eval set, written to
  parquet. The text moves through the dedup aggregate and the packing
  window, so shuffle work dominates; the resume pass re-runs the chain
  with the written output as ``seen_hashes``. One operation costs about
  as much as a whole run of the others, so it runs (checked) in the
  traced run only and is not a timed workload.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass, field
from typing import Dict, List

from pyspark.sql import functions as F

from ebook_conversion_to_text_for_machine_learning_spark.core.extract import (
    extract_document,
)
from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
    INPUT_SCHEMA,
)
from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
    run_extraction_job,
)
from ebook_conversion_to_text_for_machine_learning_spark.plans.training_prep import (
    prepare_training_mix,
)
from ebook_conversion_to_text_for_machine_learning_spark.sources.file_ingest import (
    bytes_to_spans,
    ingest_files_distributed,
)
from ebook_conversion_to_text_for_machine_learning_spark.testing.fixtures import (
    make_doc,
)

from perfbench import inputs
from perfbench.trace import NullTracer, Tracer

#: Input sizes. On a shared 4-vCPU VM the same job ran 2-3x slower in
#: busy periods than in quiet ones; the sizes keep a run inside its time
#: limits even then (a traced run, which runs every workload and probe,
#: took 70-150 s of its 180). Scan and parse (``sources.ingest_s``) are about a third of
#: ``file_ingest``'s job. On ``extract_job`` the sink bookkeeping is about
#: half of the job, the Arrow crossing and the Python fold each a fifth
#: or less.
EXTRACT_DOCS = 4000
INGEST_FILES = 80
CURATION_DOCS = 100
#: Documents per output check, drawn from the seed.
SAMPLE_DOCS = 16
#: ``prepare_training_mix`` packing knobs (the CLI defaults).
CHUNK_TOKENS = 128
PACK_BUDGET = 512


@dataclass
class Ctx:
    spark: object
    seed: int
    tracer: Tracer = field(default_factory=NullTracer)


@dataclass
class OpResult:
    job_s: float
    resume_s: float
    failures: List[str]
    out: str = ""  # the operation's output directory


def _spans_of(rows) -> list:
    return [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in rows]


def _expected(fmt, in_spans, title, author) -> list:
    """In-process reference: ``core.extract.extract_document`` on spans in
    source order, nulls as empty strings (the operator's contract)."""
    ordered = sorted(in_spans, key=lambda s: s[3])
    rows = [(k or "", t or "", r or "") for k, t, r, _ in ordered]
    out, _status = extract_document(fmt, rows, title, author)
    return [tuple(s) for s in out]


def _job_checks(spark, out_path: str, n_expected: int, n_after_job: int) -> List[str]:
    failures = []
    stats = spark.read.parquet(out_path).agg(
        F.count("*").alias("n"), F.countDistinct("doc_id").alias("ids")
    ).first()
    if n_after_job != n_expected:
        failures.append(f"job wrote {n_after_job} rows for {n_expected} inputs")
    if stats.n != n_after_job:
        failures.append(f"resume appended {stats.n - n_after_job} rows")
    if stats.ids != n_expected:
        failures.append(f"{stats.ids} distinct doc_ids for {n_expected} inputs")
    return failures


def _timed_job(ctx: Ctx, make_input, out: str, phase: str) -> float:
    """Seconds of one ``run_extraction_job`` into the sinks under ``out``,
    under span ``phase``."""
    with ctx.tracer.span(phase):
        with ctx.tracer.span("plans.pipeline.run_extraction_job"):
            t0 = time.perf_counter()
            run_extraction_job(
                ctx.spark, make_input(), f"{out}/output",
                lineage_path=f"{out}/lineage", metrics_path=f"{out}/metrics",
            )
            return time.perf_counter() - t0


def _run_job_twice(ctx: Ctx, make_input, out: str, prefix: str):
    """Time ``run_extraction_job`` and then its resume pass on fresh sinks;
    returns (job_s, resume_s, rows written by the first pass)."""
    job_s = _timed_job(ctx, make_input, out, f"{prefix}.job")
    with ctx.tracer.span("check"):
        n_after_job = ctx.spark.read.parquet(f"{out}/output").count()
    resume_s = _timed_job(ctx, make_input, out, f"{prefix}.resume")
    return job_s, resume_s, n_after_job


class ExtractJob:
    name = "extract_job"

    def generate(self, ctx: Ctx, dest: str) -> dict:
        path = f"{dest}/corpus"
        inputs.write_spans_corpus(ctx.spark, path, EXTRACT_DOCS, ctx.seed)
        return {"corpus": path, "n": EXTRACT_DOCS}

    def n_inputs(self, inp: dict) -> int:
        return inp["n"]

    def job(self, ctx: Ctx, inp: dict, out: str) -> float:
        """The operation's first pass alone: no resume, no checks."""
        make_input = lambda: ctx.spark.read.parquet(inp["corpus"])  # noqa: E731
        return _timed_job(ctx, make_input, out, f"{self.name}.job")

    def operation(self, ctx: Ctx, inp: dict, out: str) -> OpResult:
        spark = ctx.spark
        job_s, resume_s, n_job = _run_job_twice(
            ctx, lambda: spark.read.parquet(inp["corpus"]), out, self.name
        )
        with ctx.tracer.span("check"):
            failures = _job_checks(spark, f"{out}/output", inp["n"], n_job)
            failures += self._sample_check(ctx, inp, f"{out}/output")
        return OpResult(job_s, resume_s, failures)

    def _sample_check(self, ctx: Ctx, inp: dict, out_path: str) -> List[str]:
        if "expected" not in inp:  # once per input set, on its first checked operation
            picks = random.Random(f"sample:{ctx.seed}").sample(range(inp["n"]), SAMPLE_DOCS)
            sample = [make_doc(d, ctx.seed)["doc_id"] for d in picks]  # write_corpus ids
            inp["expected"] = {
                r.doc_id: _expected(
                    r.fmt,
                    [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans],
                    r.title,
                    r.author,
                )
                for r in ctx.spark.read.parquet(inp["corpus"])
                .where(F.col("doc_id").isin(sample))
                .collect()
            }
        expected = inp["expected"]
        got = {
            r.doc_id: _spans_of(r.spans)
            for r in ctx.spark.read.parquet(out_path)
            .where(F.col("doc_id").isin(list(expected)))
            .collect()
        }
        return [
            f"{doc_id}: spans differ from core.extract"
            for doc_id, spans in sorted(expected.items())
            if got.get(doc_id) != spans
        ]


class FileIngest:
    name = "file_ingest"

    def generate(self, ctx: Ctx, dest: str) -> dict:
        return {"files": inputs.write_file_set(f"{dest}/files", INGEST_FILES, ctx.seed)}

    def n_inputs(self, inp: dict) -> int:
        return len(inp["files"].paths)

    def job(self, ctx: Ctx, inp: dict, out: str) -> float:
        """The operation's first pass alone: no resume, no checks."""
        make_input = lambda: ingest_files_distributed(ctx.spark, inp["files"].root)  # noqa: E731
        return _timed_job(ctx, make_input, out, f"{self.name}.job")

    def operation(self, ctx: Ctx, inp: dict, out: str) -> OpResult:
        spark, files = ctx.spark, inp["files"]
        job_s, resume_s, n_job = _run_job_twice(
            ctx, lambda: ingest_files_distributed(spark, files.root), out, self.name
        )
        with ctx.tracer.span("check"):
            failures = _job_checks(spark, f"{out}/output", len(files.paths), n_job)
            failures += self._file_checks(ctx, inp, f"{out}/output")
        return OpResult(job_s, resume_s, failures)

    def _file_checks(self, ctx: Ctx, inp: dict, out_path: str) -> List[str]:
        """Only the planted corrupt files quarantine (``fmt='error'``), and
        a seeded sample per format matches ``bytes_to_spans`` followed by
        ``core.extract`` span for span."""
        files: inputs.FileSet = inp["files"]
        if "expected" not in inp:  # once per input set, on its first checked operation
            rng = random.Random(f"sample:{ctx.seed}")
            inp["expected"] = {}
            for fmt in sorted(files.by_format):
                paths = files.by_format[fmt]
                for path in rng.sample(paths, min(len(paths), SAMPLE_DOCS // 4)):
                    with open(path, "rb") as fh:
                        got_fmt, spans = bytes_to_spans(path, fh.read())
                    inp["expected"]["file:" + path] = (got_fmt, _expected(got_fmt, spans, None, None))
        expected = inp["expected"]
        rows = (
            ctx.spark.read.parquet(out_path)
            .where((F.col("fmt") == "error") | F.col("doc_id").isin(list(expected)))
            .collect()
        )
        failures = []
        quarantined = {r.doc_id[len("file:"):] for r in rows if r.fmt == "error"}
        if quarantined != set(files.corrupt):
            failures.append(f"quarantined {sorted(quarantined)}, planted {sorted(files.corrupt)}")
        got = {r.doc_id: (r.fmt, _spans_of(r.spans)) for r in rows}
        failures += [
            f"{doc_id}: spans differ from bytes_to_spans + core.extract"
            for doc_id, want in sorted(expected.items())
            if got.get(doc_id) != want
        ]
        return failures


class CurationMix:
    name = "curation_mix"

    def generate(self, ctx: Ctx, dest: str) -> dict:
        corpus = inputs.curation_corpus(CURATION_DOCS, ctx.seed)
        spark = ctx.spark
        spark.createDataFrame(corpus.rows, INPUT_SCHEMA).repartition(8).write.mode(
            "overwrite"
        ).parquet(f"{dest}/corpus")
        spark.createDataFrame([(t,) for t in corpus.eval_texts], "text string").write.mode(
            "overwrite"
        ).parquet(f"{dest}/eval")
        return {"dir": dest, "corpus": corpus}

    def _mix(self, spark, inp: dict, seen=None):
        return prepare_training_mix(
            spark.read.parquet(f"{inp['dir']}/corpus"),
            eval_df=spark.read.parquet(f"{inp['dir']}/eval"),
            chunk_tokens=CHUNK_TOKENS,
            budget=PACK_BUDGET,
            seen_hashes=seen,
        )

    def operation(self, ctx: Ctx, inp: dict, out: str) -> OpResult:
        spark, tr = ctx.spark, ctx.tracer
        with tr.span(f"{self.name}.job"):
            with tr.span("plans.training_prep.prepare_training_mix"):
                t0 = time.perf_counter()
                self._mix(spark, inp).write.mode("overwrite").parquet(f"{out}/mix")
                job_s = time.perf_counter() - t0
        with tr.span(f"{self.name}.resume"):
            with tr.span("plans.training_prep.prepare_training_mix"):
                t0 = time.perf_counter()
                seen = spark.read.parquet(f"{out}/mix")
                self._mix(spark, inp, seen).write.mode("overwrite").parquet(f"{out}/again")
                resume_s = time.perf_counter() - t0
        with tr.span("check"):
            failures = self._checks(ctx, inp, out)
        return OpResult(job_s, resume_s, failures)

    def _checks(self, ctx: Ctx, inp: dict, out: str) -> List[str]:
        spark = ctx.spark
        mix = spark.read.parquet(f"{out}/mix")
        rows, max_tokens = mix.agg(F.count("*"), F.max("n_tokens")).first()
        failures = []
        if rows == 0:
            failures.append("curation produced no rows")
        elif max_tokens > CHUNK_TOKENS:
            failures.append(f"a chunk holds {max_tokens} tokens > {CHUNK_TOKENS}")
        # contiguous fill: a bin holds the chunks that START in it, so its
        # total stays below budget + one chunk
        over = (
            mix.groupBy("split", "shard", "bin_id")
            .agg(F.sum("n_tokens").alias("t"))
            .where(F.col("t") > PACK_BUDGET + CHUNK_TOKENS - 1)
            .count()
        )
        if over:
            failures.append(f"{over} packed bins over budget")
        again = spark.read.parquet(f"{out}/again").count()
        if again:
            failures.append(f"resume with seen_hashes re-emitted {again} rows")
        kept = {r.doc_id for r in mix.select("doc_id").distinct().collect()}
        corpus: inputs.CurationCorpus = inp["corpus"]
        for group in corpus.dup_groups:
            keeper, copies = min(group), set(group) - {min(group)}
            if keeper not in kept:
                failures.append(f"dup-group keeper {keeper} missing")
            if copies & kept:
                failures.append(f"duplicate copies {sorted(copies & kept)} kept")
        leaked = set(corpus.contaminated) & kept
        if leaked:
            failures.append(f"eval-contaminated docs kept: {sorted(leaked)}")
        return failures


#: The timed workloads. The curation chain runs in the traced run only.
WORKLOADS: Dict[str, object] = {w.name: w for w in (ExtractJob(), FileIngest())}
CURATION = CurationMix()
