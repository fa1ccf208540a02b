"""Seeded input generators. The same seed always gives the same inputs.

The engine only ever sees what these functions write: a spans corpus
(``testing.corpus.write_corpus``), a directory of real ebook files, a
curation corpus with planted duplicates and eval contamination, and a
near-dup index corpus with planted near-duplicates plus clustered
embeddings (``testing.corpus.planted_embeddings``).
"""

from __future__ import annotations

import io
import os
import random
import zipfile
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

from ebook_conversion_to_text_for_machine_learning_spark.testing.ebook_fixture import (
    build_docx,
    build_epub,
)
from ebook_conversion_to_text_for_machine_learning_spark.testing.pdf_fixture import (
    build_pdf,
)

#: Function words, so generated prose passes the curation quality filter
#: (its score rewards a stopword share).
_STOPWORDS = "the and of to in is that it was for on with as by at from".split()
_SYLLABLES = "ka lo mi ren tus ba vel dor in sa qua pe tor lim hu ne rov gal".split()


def _vocabulary(rng: random.Random, size: int) -> List[str]:
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


#: One fixed content vocabulary for every generator (3000 words: random
#: sentences from it share almost no 3-grams, so only planted copies
#: near-duplicate each other).
VOCAB = _vocabulary(random.Random("perfbench-vocab"), 3000)


def sentence(rng: random.Random, n_words: int) -> str:
    words = [
        rng.choice(_STOPWORDS) if rng.random() < 0.3 else rng.choice(VOCAB)
        for _ in range(n_words)
    ]
    return " ".join(words).capitalize() + "."


# ---------------------------------------------------------------------------
# extract_job: the production spans corpus
# ---------------------------------------------------------------------------


def write_spans_corpus(spark, path: str, n_docs: int, seed: int) -> None:
    """``testing.corpus.write_corpus``: the epub/docx/pdf/txt mix with its
    0.5% giant-document tail, in 8 parquet files."""
    from ebook_conversion_to_text_for_machine_learning_spark.testing.corpus import (
        write_corpus,
    )

    write_corpus(spark, path, n_docs, seed=seed, partitions=8)


# ---------------------------------------------------------------------------
# file_ingest: real files on disk
# ---------------------------------------------------------------------------

#: Share of files written as garbage bytes under a valid suffix.
CORRUPT_SHARE = 0.05
_FILE_FORMATS = (("pdf", 50), ("epub", 20), ("docx", 15), ("txt", 15))
#: Pages per PDF and text lines per page. A 40-page PDF of this shape
#: parses in ~40 ms in-process, ~40x its share of the fold, so parsing
#: dominates the ingest job.
PDF_PAGES = (20, 60)
PDF_LINES = 30


@dataclass
class FileSet:
    root: str
    by_format: Dict[str, List[str]] = field(default_factory=dict)
    corrupt: List[str] = field(default_factory=list)

    @property
    def paths(self) -> List[str]:
        return sorted(p for ps in self.by_format.values() for p in ps) + sorted(
            self.corrupt
        )


def _fixed_zip_time(data: bytes) -> bytes:
    """The fixtures stamp archive members with the current time; re-pack
    them with a fixed one, so the same seed gives the same bytes."""
    src = zipfile.ZipFile(io.BytesIO(data))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as dst:
        for info in src.infolist():
            fixed = zipfile.ZipInfo(info.filename, date_time=(2020, 1, 1, 0, 0, 0))
            fixed.compress_type = info.compress_type
            fixed.external_attr = info.external_attr
            dst.writestr(fixed, src.read(info))
    return buf.getvalue()


def _spread(lo: int, hi: int, size: float) -> int:
    return lo + round(size * (hi - lo))


def _pdf_bytes(rng: random.Random, size: float) -> bytes:
    pages = []
    for p in range(_spread(PDF_PAGES[0], PDF_PAGES[1], size)):
        items: list = []
        if rng.random() < 0.5:
            items.append(f"Chapter {p + 1}")
        items.extend(sentence(rng, rng.randint(6, 12)) for _ in range(PDF_LINES))
        if rng.random() < 0.1:
            items.append(("img",))
        pages.append(items)
    return build_pdf(pages, compress=True)[0]


def _epub_bytes(rng: random.Random, size: float) -> bytes:
    sections = [("titlepage.xhtml", "<p>Sample Title</p>")]
    for s in range(_spread(2, 8, size)):
        paras = "".join(
            f"<p>{sentence(rng, rng.randint(8, 20))}</p>"
            for _ in range(rng.randint(4, 20))
        )
        img = "<img src='fig.png'/>" if rng.random() < 0.2 else ""
        sections.append((f"Section{s:03d}.xhtml", f"<h1>Chapter {s + 1}</h1>{paras}{img}"))
    return _fixed_zip_time(build_epub(sections))


def _docx_bytes(rng: random.Random, size: float) -> bytes:
    paras: list = [("Sample Title", False, None), ("Sample Author", False, None)]
    for c in range(_spread(2, 8, size)):
        paras.append((f"Chapter {c + 1}", True, None))
        for _ in range(rng.randint(4, 20)):
            rid = f"rId{c}" if rng.random() < 0.03 else None
            paras.append((sentence(rng, rng.randint(8, 20)), False, rid))
    return _fixed_zip_time(build_docx(paras))


def _txt_bytes(rng: random.Random, size: float) -> bytes:
    lines = ["Sample Title"]
    for c in range(_spread(2, 8, size)):
        lines.append(f"Chapter {c + 1}")
        lines.extend(sentence(rng, rng.randint(8, 20)) for _ in range(rng.randint(4, 30)))
    return "\n".join(lines).encode("utf-8")


_BUILDERS = {"pdf": _pdf_bytes, "epub": _epub_bytes, "docx": _docx_bytes, "txt": _txt_bytes}


def write_file_set(root: str, n_files: int, seed: int) -> FileSet:
    """``n_files`` ebook files under ``root``: FlateDecode PDFs of 20–60
    pages (``testing.pdf_fixture.build_pdf``), EPUB/DOCX archives
    (``testing.ebook_fixture``), UTF-8 text, and ``CORRUPT_SHARE`` of
    garbage-byte PDF/EPUB/DOCX files that must quarantine. No encrypted
    PDFs: an AES-256 fixture build alone takes tens of seconds.

    Every seed gives the same amount of work: each format gets a fixed
    quota of files, and the files of a format take sizes (pages,
    chapters) spread evenly over their range. The seed draws the text,
    which file gets which size, and the order on disk. Drawing formats
    and sizes freely made the parse work of one seed differ from the
    next by more than a tenth, which showed as spread between runs."""
    rng = random.Random(f"files:{seed}")
    os.makedirs(root, exist_ok=True)
    n_corrupt = max(1, round(n_files * CORRUPT_SHARE))
    n_good = n_files - n_corrupt
    total = sum(w for _, w in _FILE_FORMATS)
    quota = {f: n_good * w // total for f, w in _FILE_FORMATS}
    quota[_FILE_FORMATS[0][0]] += n_good - sum(quota.values())
    plan = []  # (format, size in [0, 1])
    for fmt, k in quota.items():
        sizes = [(i + 0.5) / k for i in range(k)]
        rng.shuffle(sizes)
        plan += [(fmt, size) for size in sizes]
    rng.shuffle(plan)
    out = FileSet(root=root, by_format={f: [] for f, _ in _FILE_FORMATS})
    for i in range(n_files):
        if i < n_corrupt:
            fmt = ("pdf", "epub", "docx")[i % 3]
            head = b"%PDF-1.4\n" if fmt == "pdf" else b"PK\x03\x04"
            data = head + rng.randbytes(rng.randint(500, 5000))
        else:
            fmt, size = plan[i - n_corrupt]
            data = _BUILDERS[fmt](rng, size)
        path = os.path.join(root, f"f{i:05d}.{fmt}")
        with open(path, "wb") as fh:
            fh.write(data)
        (out.corrupt if i < n_corrupt else out.by_format[fmt]).append(path)
    return out


# ---------------------------------------------------------------------------
# curation_mix: varied prose with planted duplicates and contamination
# ---------------------------------------------------------------------------


@dataclass
class CurationCorpus:
    rows: list  # INPUT_SCHEMA tuples
    eval_texts: List[str]
    dup_groups: List[List[str]]  # doc ids with identical text; min id keeps
    contaminated: List[str]  # doc ids carrying an eval passage


def curation_corpus(n_docs: int, seed: int) -> CurationCorpus:
    """TXT documents of 8–20 random-prose lines. 5% of the documents are
    planted exact copies of another document (one copy group per source),
    and 2% carry an eval passage verbatim, so dedup and decontamination
    both have work whose answer is known. The ``write_corpus`` spans
    corpus is not used here: its template sentences make every document
    fail the repetition filter, which would leave the chain with no
    output."""
    rng = random.Random(f"curation:{seed}")
    eval_texts = [
        " ".join(sentence(rng, rng.randint(10, 16)) for _ in range(6)) for _ in range(4)
    ]
    n_dups = max(1, n_docs // 20)
    n_contam = max(1, n_docs // 50)
    n_base = n_docs - n_dups - n_contam

    def spans(lines: List[str]) -> list:
        return [("line", text, "", i) for i, text in enumerate(lines)]

    bodies: Dict[str, List[str]] = {}
    for i in range(n_base):
        bodies[f"c{i:06d}"] = [
            sentence(rng, rng.randint(10, 16)) for _ in range(rng.randint(8, 20))
        ]
    groups: Dict[str, List[str]] = {}
    for j in range(n_dups):
        src = f"c{rng.randrange(n_base):06d}"
        copy_id = f"d{j:06d}"
        bodies[copy_id] = list(bodies[src])
        groups.setdefault(src, [src]).append(copy_id)
    contaminated = []
    for j in range(n_contam):
        doc_id = f"e{j:06d}"
        bodies[doc_id] = [eval_texts[j % len(eval_texts)]]
        contaminated.append(doc_id)
    rows = [(d, "txt", None, None, spans(lines)) for d, lines in sorted(bodies.items())]
    return CurationCorpus(
        rows=rows,
        eval_texts=eval_texts,
        dup_groups=sorted(groups.values()),
        contaminated=contaminated,
    )


# ---------------------------------------------------------------------------
# near-dup index: base corpus, probe batch with planted near-dups
# ---------------------------------------------------------------------------


@dataclass
class NearDupInputs:
    base: List[Tuple[int, str]]  # (doc_id, text) indexed in set-up
    batch: List[Tuple[int, str]]  # (doc_id, text) ingested per operation
    planted: Dict[int, int]  # batch doc_id -> base doc_id it near-duplicates


def near_dup_inputs(n_base: int, n_batch: int, seed: int) -> NearDupInputs:
    """Base and batch documents of 60–100 random words. The first 10% of
    the batch are copies of distinct base documents with two words
    replaced (3-gram Jaccard about 0.85, well above the index's 0.5
    acceptance); the rest are fresh text that matches nothing."""
    rng = random.Random(f"neardup:{seed}")

    def text() -> str:
        return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(60, 100)))

    base = [(i, text()) for i in range(n_base)]
    n_planted = max(1, n_batch // 10)
    # distinct sources: two near-dups of one base doc would dedup against
    # each other inside the batch before either meets the index
    sources = rng.sample(range(n_base), n_planted)
    batch, planted = [], {}
    for j in range(n_batch):
        doc_id = 1_000_000 + j
        if j < n_planted:
            src_id, src = base[sources[j]]
            words = src.split()
            for pos in rng.sample(range(len(words)), 2):
                words[pos] = rng.choice(VOCAB)
            batch.append((doc_id, " ".join(words)))
            planted[doc_id] = src_id
        else:
            batch.append((doc_id, text()))
    return NearDupInputs(base=base, batch=batch, planted=planted)
