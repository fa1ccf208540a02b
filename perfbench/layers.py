"""Per-layer probes for the traced run.

Extraction is split by cumulative-prefix plans over the same input, each
written to Spark's ``noop`` sink so every row is produced and nothing is
stored: scan; scan + identity ``mapInArrow``; scan + ``extract_spans``;
the same written to parquet; the full ``run_extraction_job``. Differences
of neighbouring prefixes are the layers, so they add up to the traced job
time exactly; ``trace.overhead_s`` says how far that sits from the job
time of untraced operations.
"""

from __future__ import annotations

import json
import random
import statistics
import subprocess
import sys
import time
from typing import Dict, List

from pyspark.sql import functions as F

from ebook_conversion_to_text_for_machine_learning_spark.core.extract import (
    extract_document,
)
from ebook_conversion_to_text_for_machine_learning_spark.operators import dedup as D
from ebook_conversion_to_text_for_machine_learning_spark.operators import similarity as S
from ebook_conversion_to_text_for_machine_learning_spark.operators.extract import (
    INPUT_SCHEMA,
    extract_spans,
)
from ebook_conversion_to_text_for_machine_learning_spark.plans.pipeline import (
    run_extraction_job,
)
from ebook_conversion_to_text_for_machine_learning_spark.sources.file_ingest import (
    bytes_to_spans,
    ingest_files_distributed,
)
from ebook_conversion_to_text_for_machine_learning_spark.testing.corpus import (
    planted_embeddings,
)
from ebook_conversion_to_text_for_machine_learning_spark.testing.fixtures import (
    make_doc,
)

from perfbench import inputs
from perfbench.trace import Tracer

#: Cores of the benchmark's ``local[4]`` master.
CORES = 4
#: Partitions for the salted-repartition skew figure (2 × cores).
SALTED_PARTITIONS = 8
#: Documents for the in-process fold timing.
FOLD_SAMPLE_DOCS = 400
#: Files per format for the in-process parse timing.
PARSE_SAMPLE_FILES = 20
#: Near-dup index sizes and ANN probe shape.
INDEX_BASE_DOCS = 300
INDEX_BATCH_DOCS = 60
EMBEDDINGS = 2000
EMBEDDING_DIM = 32
ANN_PROBES = 20
ANN_K = 5
ANN_CLUSTERS = 64


def _identity(batches):
    yield from batches


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _best_of(tr: Tracer, name: str, fn, runs: int = 2) -> float:
    """Wall seconds of ``fn(attempt)`` run ``runs`` times under span
    ``name``; the fastest run counts (the first also pays plan
    compilation). The extraction prefixes take two runs, because their
    differences are the layers; single probes take one, to keep the
    traced run short."""
    times = []
    for attempt in range(runs):
        with tr.span(name):
            t0 = time.perf_counter()
            fn(attempt)
            times.append(time.perf_counter() - t0)
    return min(times)


def _skew(values: List[float]) -> float:
    med = statistics.median(values)
    return max(values) / med if med > 0 else 1.0


def extract_layers(spark, tr: Tracer, corpus: str, job_s: float, out: str) -> Dict[str, float]:
    """Prefix plans over the spans corpus; ``job_s`` is the traced
    ``run_extraction_job`` time they telescope to."""
    read = lambda: spark.read.parquet(corpus).select(*INPUT_SCHEMA.fieldNames())  # noqa: E731
    scan = _best_of(tr, "extract.scan", lambda _: _noop(read()))
    ident = _best_of(
        tr, "extract.identity_map",
        lambda _: _noop(read().mapInArrow(_identity, schema=INPUT_SCHEMA)),
    )
    python = _best_of(
        tr, "operators.extract.extract_spans", lambda _: _noop(extract_spans(read()))
    )
    parquet = _best_of(
        tr, "operators.extract.extract_spans.parquet",
        lambda attempt: extract_spans(read()).write.parquet(f"{out}/prefix{attempt}"),
    )
    return {
        "extract.scan_s": scan,
        "extract.crossing_s": ident - scan,
        "extract.python_s": python - ident,
        "pipeline.write_s": parquet - python,
        "pipeline.bookkeeping_s": job_s - parquet,
    }


def partition_cpu(spark, lineage: str) -> List[int]:
    """Per-partition fold CPU (µs) from a job's ``_partitions`` lineage."""
    return [r.cpu_us for r in spark.read.parquet(f"{lineage}_partitions").collect()]


def core_layers(spark, tr: Tracer, corpus: str, lineage: str, seed: int, out: str) -> Dict[str, float]:
    cpu_us = partition_cpu(spark, lineage)
    with tr.span("plans.pipeline.run_extraction_job.salted"):
        run_extraction_job(
            spark, spark.read.parquet(corpus), f"{out}/salted/output",
            lineage_path=f"{out}/salted/lineage", repartition=SALTED_PARTITIONS,
        )
    salted = partition_cpu(spark, f"{out}/salted/lineage")
    rng = random.Random(f"fold:{seed}")
    docs = [make_doc(rng.randrange(10**6), seed) for _ in range(FOLD_SAMPLE_DOCS)]
    with tr.span("core.extract.extract_document"):
        t0 = time.perf_counter()
        for d in docs:
            extract_document(d["fmt"], [s[:3] for s in d["spans"]], d["title"], d["author"])
        fold_s = time.perf_counter() - t0
    fold_cpu_s = sum(cpu_us) / 1e6
    return {
        "core.fold_cpu_s": fold_cpu_s,
        "core.fold_wall_s": fold_cpu_s / min(len(cpu_us), CORES),
        "core.fold_us_per_doc": fold_s / len(docs) * 1e6,
        "core.partition_cpu_skew": _skew(cpu_us),
        "core.partition_cpu_skew_salted": _skew(salted),
    }


def source_layers(spark, tr: Tracer, files: inputs.FileSet, output: str) -> Dict[str, float]:
    ingest = _best_of(
        tr, "sources.ingest_files_distributed",
        lambda _: _noop(ingest_files_distributed(spark, files.root)), runs=1,
    )
    metrics = {"sources.ingest_s": ingest}
    rng = random.Random("parse-sample")
    for fmt, paths in sorted(files.by_format.items()):
        blobs = []
        for p in rng.sample(paths, min(len(paths), PARSE_SAMPLE_FILES)):
            with open(p, "rb") as fh:
                blobs.append((p, fh.read()))
        with tr.span(f"sources.bytes_to_spans.{fmt}"):
            t0 = time.perf_counter()
            for p, data in blobs:
                bytes_to_spans(p, data)
            metrics[f"sources.parse_ms_per_file.{fmt}"] = (
                (time.perf_counter() - t0) / max(1, len(blobs)) * 1e3
            )
    metrics["sources.files_quarantined"] = (
        spark.read.parquet(output).where(F.col("fmt") == "error").count()
    )
    metrics["sources.files_corrupt_planted"] = len(files.corrupt)
    return metrics


def training_prep_layers(spark, tr: Tracer, corpus: str, job_s: float) -> Dict[str, float]:
    extract_s = _best_of(
        tr, "training_prep.extract_spans",
        lambda _: _noop(extract_spans(spark.read.parquet(corpus))), runs=1,
    )
    return {"training_prep.extract_s": extract_s, "training_prep.chain_s": job_s - extract_s}


# ---------------------------------------------------------------------------
# near-dup index (MinHash) and IVF-PQ ANN index
# ---------------------------------------------------------------------------


def build_indexes(spark, tr: Tracer, dest: str, seed: int) -> dict:
    """Set-up, untimed by the probes: the MinHash index over the base
    corpus, and an IVF cell table plus PQ codes over planted embeddings."""
    nd = inputs.near_dup_inputs(INDEX_BASE_DOCS, INDEX_BATCH_DOCS, seed)
    with tr.span("setup.index"):
        spark.createDataFrame(nd.base, "doc_id long, text string").write.parquet(f"{dest}/base")
        spark.createDataFrame(nd.batch, "doc_id long, text string").write.parquet(f"{dest}/batch")
        D.write_minhash_index(spark.read.parquet(f"{dest}/base"), f"{dest}/minhash")
        planted_embeddings(
            spark, EMBEDDINGS, EMBEDDING_DIM, n_clusters=ANN_CLUSTERS, seed=seed, partitions=4
        ).write.parquet(f"{dest}/emb")
        emb = spark.read.parquet(f"{dest}/emb")
        centroids = S.ivf_centroids(emb, target_cells=ANN_CLUSTERS)
        S.ivf_assign_arrow(emb, centroids).select("vec_id", "cell_id").write.parquet(
            f"{dest}/cells"
        )
        S.write_pq_index(emb, f"{dest}/pq", m=4, target_codes=64)
    return {"dir": dest, "planted": nd.planted, "centroids": centroids}


def index_layers(spark, tr: Tracer, idx: dict) -> tuple:
    """(metrics, failures): probe-only dedup, the full ingest (probe +
    append), and IVF-PQ top-k over the persisted cells and codes."""
    d = idx["dir"]
    batch = spark.read.parquet(f"{d}/batch")
    with tr.span("operators.dedup.dedup_against_index"):
        t0 = time.perf_counter()
        _noop(D.dedup_against_index(spark, batch, f"{d}/minhash"))
        probe_s = time.perf_counter() - t0
    with tr.span("operators.dedup.ingest_batch_against_index"):
        t0 = time.perf_counter()
        annotated = D.ingest_batch_against_index(spark, batch, f"{d}/minhash", batch_id=1).collect()
        ingest_s = time.perf_counter() - t0
    flagged = {r.doc_id: r.dup_of for r in annotated if r.dup_of is not None}
    failures = []
    if flagged != idx["planted"]:
        failures.append(f"near-dup flags {flagged} != planted {idx['planted']}")

    emb = spark.read.parquet(f"{d}/emb")
    books, codes = S.read_pq_index(spark, f"{d}/pq")
    probes = emb.where(F.col("vec_id") < ANN_PROBES)
    with tr.span("operators.similarity.ivfpq_topk"):
        t0 = time.perf_counter()
        top = S.ivfpq_topk(
            emb, probes, idx["centroids"], books, k=ANN_K,
            cells=spark.read.parquet(f"{d}/cells"), codes=codes.select("vec_id", "codes"),
        ).collect()
        ann_s = time.perf_counter() - t0
    cluster = lambda i: (int(i) * 0x9E3779B1) % ANN_CLUSTERS  # noqa: E731  planted_embeddings' layout
    first = [r for r in top if r["rank"] == 1]
    if len(top) != ANN_PROBES * ANN_K or any(
        cluster(r.probe_id) != cluster(r.item_id) for r in first
    ):
        failures.append("ivfpq_topk missed the planted cluster neighbours")
    return (
        {
            "index.probe_s": probe_s,
            "index.append_s": ingest_s - probe_s,
            "index.ann_topk_s": ann_s,
            "index.dups_flagged": len(flagged),
            "index.dups_planted": len(idx["planted"]),
        },
        failures,
    )


def scaling_probe(root: str, corpus: str, work: str, env: dict) -> float:
    """``run_extraction_job`` seconds at local[1] in a separate process."""
    proc = subprocess.run(
        [sys.executable, "-m", "perfbench.scaling", corpus, work],
        cwd=root, env=env, capture_output=True, text=True, timeout=150,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"scaling probe failed: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])["job_s"]
