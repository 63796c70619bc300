"""Seeded benchmark inputs and the outputs the oracle expects for them.

Everything here runs before set-up and the timed region, in pool workers, so
neither input generation nor the oracle counts towards any metric. The
program under test only ever sees the files these functions write.

Expected outputs map ``doc_id`` to the ordered ``(kind, text, media_ref,
offset)`` tuples of ``oracle.expected_corpus``; ``None`` marks a planted
corrupt payload that the program must quarantine.
"""

from __future__ import annotations

import bisect
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Stated input sizes (see BENCHMARK.json / README.md for the reasons).
FLAGSHIP_DOCS = 1000
LAKE_DOCS = 512
FOLDER_PDFS = 90
FOLDER_HTMLS = 45
SCALING_DOCS = 400
KERNEL_DOCS = 120
KERNEL_PDFS = 60
KERNEL_HTMLS = 30

# Every input has the same size profile whatever the seed: a fixed share of
# giant documents (the generator's 5% at 50x the span count), and spans per
# document matched to fixed quantiles. Without it the giant count alone
# moves docs/s by a third from seed to seed.
GIANT_SHARE = 0.05

# planted corruption in the byte-path folder: a fixed share of each format
PLANTED_SHARE = 0.05
PDF_VARIANTS = ("classic", "incremental", "objstm")
PDF_CORRUPTIONS = ("truncated", "garbled_xref", "not_pdf")

DOC_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]))),
])


def _chunks(n: int, parts: int) -> list[tuple[int, int]]:
    step = -(-n // parts)
    return [(a, min(a + step, n)) for a in range(0, n, step)]


# ---------------------------------------------------------------- documents

def doc_sizes(seed: int, start: int, stop: int) -> list[tuple[int, int]]:
    from pdf_extract_spark import generator

    return [(len(generator.make_document(i, seed)["spans"]), i) for i in range(start, stop)]


def target_sizes(n: int) -> list[float]:
    """Span counts at fixed quantiles of the generator's two size classes
    (2..200 spans, and 50x that for giants), largest first."""
    n_giant = round(GIANT_SHARE * n)
    giant = [50 * (2 + 198 * (j + 0.5) / n_giant) for j in range(n_giant)]
    normal = [2 + 198 * (j + 0.5) / (n - n_giant) for j in range(n - n_giant)]
    return sorted(giant + normal, reverse=True)


def select_docs(pool, seed: int, n: int, parts: int) -> list[int]:
    """Indices of ``n`` generator documents whose span counts match
    ``target_sizes(n)``, each the nearest unused one among the seed's first
    ``2n`` documents."""
    sizes = sorted(s for part in pool.starmap(
        doc_sizes, [(seed, a, b) for a, b in _chunks(2 * n, parts)]) for s in part)
    chosen = []
    for t in target_sizes(n):
        k = bisect.bisect_left(sizes, (t, -1))
        near = [j for j in (k - 1, k) if 0 <= j < len(sizes)]
        j = min(near, key=lambda j: abs(sizes[j][0] - t))
        chosen.append(sizes.pop(j)[1])
    return sorted(chosen)


def write_docs_part(seed: int, indices: list[int], path: str) -> dict:
    """Write the documents at ``indices`` as one parquet part; return
    their oracle spans."""
    from pdf_extract_spark import generator, oracle

    docs = [generator.make_document(i, seed) for i in indices]
    pq.write_table(pa.Table.from_pylist(docs, schema=DOC_SCHEMA), path)
    return oracle.expected_corpus(docs)


def write_docs_table(pool, seed: int, n_docs: int, folder: str, parts: int) -> dict:
    """A flat parquet documents table (the ``cli.py extract`` input) of
    ``n_docs`` generator documents, plus the oracle for every one."""
    os.makedirs(folder, exist_ok=True)
    chosen = select_docs(pool, seed, n_docs, parts)
    jobs = [
        (seed, chosen[a:b], os.path.join(folder, f"part-{k:03d}.parquet"))
        for k, (a, b) in enumerate(_chunks(n_docs, parts))
    ]
    expected: dict = {}
    for part in pool.starmap(write_docs_part, jobs):
        expected.update(part)
    return expected


def write_docs_only(seed: int, n_docs: int, folder: str) -> None:
    """The same document family without the oracle (scaling diagnostic)."""
    from pdf_extract_spark import generator

    os.makedirs(folder, exist_ok=True)
    docs = [generator.make_document(i, seed) for i in range(n_docs)]
    pq.write_table(pa.Table.from_pylist(docs, schema=DOC_SCHEMA),
                   os.path.join(folder, "part-000.parquet"))


# ----------------------------------------------------------- byte payloads

def planted_ledger(seed: int, pdfs: list[int], htmls: list[int]) -> dict:
    """{("pdf"|"html", index): corruption} for the seeded planted share."""
    rng = random.Random(seed * 7919 + 17)
    ledger = {}
    for kind, indices, choices in (("pdf", pdfs, PDF_CORRUPTIONS),
                                   ("html", htmls, ("markup_free",))):
        picks = sorted(rng.sample(indices, max(1, round(PLANTED_SHARE * len(indices)))))
        for j, i in enumerate(picks):
            ledger[(kind, i)] = choices[j % len(choices)]
    return ledger


def _corrupt_pdf(good: bytes, how: str, rng: random.Random) -> bytes:
    if how == "truncated":
        return good[: len(good) // 2]
    if how == "garbled_xref":
        # the startxref pointer now lands past the end of the file
        return good[: good.rindex(b"startxref")] + b"startxref\n99999999\n%%EOF\n"
    # not_pdf: an image-like payload without the %PDF- magic
    return b"GIF89a" + bytes(rng.randrange(256) for _ in range(512))


def _markup_free_page(index: int, rng: random.Random) -> bytes:
    from pdf_extract_spark.generator import WORDS

    lines = [" ".join(rng.choice(WORDS) for _ in range(12)) for _ in range(20)]
    return (f"plain text export {index}\n" + "\n".join(lines)).encode()


def pdf_name(i: int) -> str:
    return f"pdf{i:06d}"


def html_name(i: int) -> str:
    return f"page{i:06d}"


def write_payloads(seed: int, kind: str, indices: list[int], folder: str,
                   ledger: dict) -> dict:
    """Write one chunk of ``*.pdf`` or ``*.html`` files; return expectations."""
    from pdf_extract_spark import generator, oracle
    from pdf_extract_spark.sources import htmlgen, pdfgen

    expected = {}
    for i in indices:
        how = ledger.get((kind, i))
        rng = random.Random((seed << 8) ^ i)
        if kind == "pdf":
            name = pdf_name(i)
            data = pdfgen.build_pdf(i, seed, PDF_VARIANTS[i % len(PDF_VARIANTS)])
            if how is None:
                want = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                        for s in oracle.expected_spans_from_layout(
                            pdfgen.expected_pages(i, seed))]
            else:
                data, want = _corrupt_pdf(data, how, rng), None
            path = os.path.join(folder, name + ".pdf")
        else:
            name = html_name(i)
            if how is None:
                data = htmlgen.build_html(i, seed, htmlgen.VARIANTS[i % len(htmlgen.VARIANTS)])
                doc = generator.make_document(i, seed)
                want = oracle.expected_corpus([doc])[doc["doc_id"]]
            else:
                data, want = _markup_free_page(i, rng), None
            path = os.path.join(folder, name + ".html")
        with open(path, "wb") as f:
            f.write(data)
        expected[name] = want
    return expected


def write_folder(pool, seed: int, n_pdfs: int, n_htmls: int, folder: str,
                 parts: int) -> tuple[dict, dict]:
    """The byte-path folder: one directory per format. Returns
    (expected, ledger) where ledger maps planted doc_ids to their kind."""
    html_docs = select_docs(pool, seed, n_htmls, parts)
    ledger = planted_ledger(seed, list(range(n_pdfs)), html_docs)
    jobs = []
    for kind, indices in (("pdf", list(range(n_pdfs))), ("html", html_docs)):
        sub = os.path.join(folder, kind)
        os.makedirs(sub, exist_ok=True)
        for a, b in _chunks(len(indices), parts):
            jobs.append((seed, kind, indices[a:b], sub, ledger))
    expected: dict = {}
    for part in pool.starmap(write_payloads, jobs):
        expected.update(part)
    named = {(pdf_name(i) if k == "pdf" else html_name(i)): how
             for (k, i), how in ledger.items()}
    return expected, named


# ------------------------------------------------------------ kernel sample

def kernel_sample(seed: int) -> dict:
    """The fixed sample the single-process kernel probes run over."""
    from pdf_extract_spark import generator
    from pdf_extract_spark.sources import htmlgen, pdfgen

    return {
        "docs": [generator.make_document(i, seed) for i in range(KERNEL_DOCS)],
        "pdfs": [pdfgen.build_pdf(i, seed, PDF_VARIANTS[i % len(PDF_VARIANTS)])
                 for i in range(KERNEL_PDFS)],
        "htmls": [htmlgen.build_html(i, seed, htmlgen.VARIANTS[i % len(htmlgen.VARIANTS)])
                  for i in range(KERNEL_HTMLS)],
    }
