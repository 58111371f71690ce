"""Seeded input generators. The same seed always gives the same bytes;
the program under test receives only what these functions write.

The seed varies the content of every input but not its cost profile:
document counts, the number of giant pages and their size band, and
the share of PDFs and planted duplicates are fixed, so run times from
different seeds are comparable.
"""

from __future__ import annotations

import gzip
import os
import random

# generate_corpus's default share of giant pages
GIANT_FRAC = 0.001
# giants are drawn from this band of gen_doc's block multiplier (x1000
# blocks, ~0.5-0.7 MB of HTML each): a fixed band keeps the walker
# work per giant the same for every seed
GIANT_BLOCKS_K = (4, 6)

# word pool of the documents table the query rows were written against
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
DOC_LANGS = (("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14))
DOC_SOURCES = 20
DOC_DUP_FRAC = 0.05


# ---------------------------------------------------------------------------
# extract_job: the interleaved corpus
# ---------------------------------------------------------------------------

def giant_ids(seed: int, start: int, count: int) -> list[int]:
    """First ``count`` ids >= ``start`` whose gen_doc block multiplier
    falls in GIANT_BLOCKS_K. Mirrors gen_doc's first draw (its rng is
    seeded from ``(seed << 34) ^ i`` and draws ``randint(1, 50)``
    blocks first), which avoids generating every candidate."""
    lo, hi = GIANT_BLOCKS_K
    out, i = [], start
    while len(out) < count:
        if lo <= random.Random((seed << 34) ^ i).randint(1, 50) <= hi:
            out.append(i)
        i += 1
    return out


def write_corpus(path: str, seed: int, n_docs: int, n_files: int) -> dict:
    """``n_docs`` ordinary docs in ``n_files`` parquet files of
    contiguous ids, plus a file of ``n_docs * GIANT_FRAC`` giants: the
    rows and layout ``generate_corpus`` (one file per range partition)
    unioned with the giants would write, produced here without Spark so
    that generation stays cheap. Returns the doc count and the giant
    ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from html_to_document_spark.sources.synthetic import gen_doc

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
    giants = giant_ids(seed, n_docs, max(1, round(n_docs * GIANT_FRAC)))
    files = [
        [gen_doc(i, seed, giant_frac=0.0)
         for i in range(f * n_docs // n_files, (f + 1) * n_docs // n_files)]
        for f in range(n_files)
    ]
    files.append([gen_doc(i, seed, giant_frac=1.0) for i in giants])
    os.makedirs(path, exist_ok=True)
    for f, docs in enumerate(files):
        pq.write_table(pa.Table.from_pylist(docs, schema),
                       os.path.join(path, f"part-{f:03d}.parquet"))
    return {"n_docs": n_docs + len(giants), "giants": giants}


def corpus_html(i: int, seed: int, giant: bool = False) -> str:
    """The HTML the extraction stage assembles for generated doc ``i``."""
    from html_to_document_spark.core.extract import assemble_html
    from html_to_document_spark.sources.synthetic import gen_doc

    return assemble_html(gen_doc(i, seed, 1.0 if giant else 0.0)["spans"])


def doc_id(i: int) -> str:
    return f"doc-{i:012d}"


# ---------------------------------------------------------------------------
# crawl_curate: a gzipped WARC archive
# ---------------------------------------------------------------------------

PDF_FRAC = 0.03
EXACT_DUP_FRAC = 0.01
NEAR_DUP_FRAC = 0.01
# PDF writer variants the crawl reads in stream order (two-column
# layouts need reading_order, which the crawl plan leaves off)
PDF_VARIANTS = (
    {}, {"string_mode": "hex"}, {"string_mode": "tj"}, {"line_op": "Tm"},
    {"tounicode": True}, {"filter": "ahx"}, {"objstm": True},
)


def _warc_record(rid: str, url: str, ctype: str, body: bytes) -> bytes:
    payload = (f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n\r\n"
               .encode() + body)
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
        f"WARC-Target-URI: {url}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(payload)}\r\n"
        "\r\n"
    ).encode()
    return head + payload + b"\r\n\r\n"


def _plantable(html: str) -> bool:
    """Long enough English text that the crawl's language filter keeps
    it and no unrelated page is a near duplicate of it."""
    from html_to_document_spark.core.extract import extract_document

    words = " ".join(s[1] or "" for s in extract_document(html)
                     if s[0] == "text").split()
    return len(words) >= 150 and words.count("the") >= 3


def write_warc(root: str, seed: int, n_pages: int, n_files: int) -> dict:
    """``n_pages`` gen_doc pages plus PDFs and planted duplicate groups,
    spread round-robin over ``n_files`` ``.warc.gz`` files.

    Returns the expectations the output is checked against: the doc
    ids of each planted duplicate group (exactly one must survive) and
    the lines of each PDF (every line must survive as a span)."""
    from html_to_document_spark.sources.pdf_synth import make_pdf

    rng = random.Random(seed)
    records: list[bytes] = []

    def add(rid, host, ctype, body):
        records.append(_warc_record(
            rid, f"http://{host}/p/{rid}", ctype, body))
        return f"urn:uuid:{rid}"

    pages = {}
    for i in range(n_pages):
        html = corpus_html(i, seed)
        pages[i] = html
        add(f"p{seed}-{i:07d}", f"site{i % 37}.example.com", "text/html",
            html.encode())

    groups = []
    want = round(n_pages * (EXACT_DUP_FRAC + NEAR_DUP_FRAC))
    for i in rng.sample(range(n_pages), n_pages):
        if len(groups) >= want:
            break
        if not _plantable(pages[i]):
            continue
        g = len(groups)
        if g % 2 == 0:  # exact copy on another host
            body = pages[i]
        else:  # near copy: one short paragraph appended
            body = pages[i] + "<p>" + " ".join(
                rng.choice(DOC_VOCAB) for _ in range(3)) + "</p>"
        copy = add(f"d{seed}-{g:05d}", f"mirror{g % 5}.example.net",
                   "text/html", body.encode())
        groups.append([f"urn:uuid:p{seed}-{i:07d}", copy])

    pdf_lines = {}
    for j in range(round(n_pages * PDF_FRAC)):
        lines = [
            "the " + " ".join(rng.choice(DOC_VOCAB) for _ in range(6))
            for _ in range(rng.randint(12, 30))
        ]
        did = add(f"f{seed}-{j:05d}", f"docs{j % 7}.example.org",
                  "application/pdf",
                  make_pdf([lines], **PDF_VARIANTS[j % len(PDF_VARIANTS)]))
        pdf_lines[did] = lines

    rng.shuffle(records)
    os.makedirs(root, exist_ok=True)
    for f in range(n_files):
        with open(os.path.join(root, f"crawl-{f:03d}.warc.gz"), "wb") as fh:
            fh.write(gzip.compress(b"".join(records[f::n_files]), 6))
    return {
        "n_records": len(records),
        "groups": groups,
        "pdf_lines": pdf_lines,
        "bytes": sum(os.path.getsize(os.path.join(root, n))
                     for n in os.listdir(root)),
    }


# ---------------------------------------------------------------------------
# query rows (traced with crawl_curate): the documents table
# ---------------------------------------------------------------------------

def write_documents(path: str, seed: int, n_docs: int) -> None:
    """A ``documents`` table in the shape of the sf-scaled test data:
    uniform words from DOC_VOCAB, 10-100 words per doc, a fixed language
    mix, ``src{id % 20}`` sources, and 5% of docs copying another doc's
    text with a ``dup`` suffix."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts = [
        " ".join(rng.choice(DOC_VOCAB) for _ in range(rng.randint(10, 100)))
        for _ in range(n_docs)
    ]
    originals = list(texts)
    for i in rng.sample(range(n_docs), round(n_docs * DOC_DUP_FRAC)):
        texts[i] = originals[rng.randrange(n_docs)] + " dup"
    langs = rng.choices([lang for lang, _ in DOC_LANGS],
                        weights=[w for _, w in DOC_LANGS], k=n_docs)
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % DOC_SOURCES}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "documents.parquet"))
