"""The two workloads, and the query rows traced alongside crawl_curate.

Each workload generates its inputs from the seed (untimed), then runs
closed-loop: one client, each run starting after the previous one has
finished and been checked. ``run`` is the timed region and ends in an
action that consumes every output column; ``check`` verifies that
run's output and is not timed. ``traced`` makes one more run with a
span around each call into a layer and returns the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time

import inputs


class CheckFailed(Exception):
    """A run's output disagreed with what the inputs imply."""


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, reps: int) -> float:
    """Median wall seconds of ``reps`` calls."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


class Workload:
    name = ""
    # untimed runs before timing starts: the first run is cold (JVM
    # class loading, Python worker start-up), and on a 4-core host the
    # second was still 10-25% slower than later ones (JIT). crawl_curate
    # keeps speeding up for ~10 runs; the median over the timed runs
    # absorbs that
    WARMUP_RUNS = 2

    def __init__(self, spark, root: str, work: str, seed: int, cpus: int):
        self.spark = spark
        self.root = root
        self.work = work
        self.seed = seed
        self.cpus = cpus
        self.reference = None  # fingerprint of the first correct run

    def n_docs(self) -> int:
        raise NotImplementedError

    def generate(self) -> None:
        raise NotImplementedError

    def run(self, i: int):
        raise NotImplementedError

    def check(self, result) -> None:
        """Raise CheckFailed unless ``result`` is correct, and unless its
        fingerprint equals that of the first correct run."""
        fp = self._verify(result)
        if self.reference is None:
            self.reference = fp
        require(fp == self.reference, "output differs from the first run's")

    def _verify(self, result):
        raise NotImplementedError

    def traced(self, tracer) -> dict[str, float]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# extract_job
# ---------------------------------------------------------------------------

class ExtractJob(Workload):
    """plans/job.py's production job: chunked, resumable extraction of
    the synthetic interleaved corpus through a stage dir, writing span
    parquet and lineage."""

    name = "extract_job"
    N_DOCS = 2000
    N_BUCKETS = 16
    CHUNK_BUCKETS = 8
    SAMPLE = 24  # docs checked span-for-span against the tree walker
    PREFIX = 1000  # docs rerun at local[1] for the scaling efficiency
    REPS = 3  # repetitions of each ledger leg

    def n_docs(self) -> int:
        return self.meta["n_docs"]

    def generate(self) -> None:
        from html_to_document_spark.core.extract import (
            ExtractOptions,
            extract_document,
        )

        self.input = os.path.join(self.work, "corpus")
        self.meta = inputs.write_corpus(
            self.input, self.seed, self.N_DOCS, self.cpus)
        tree = ExtractOptions(engine="tree")
        sample = random.Random(self.seed).sample(
            range(self.N_DOCS), self.SAMPLE)
        self.expected = {
            inputs.doc_id(i): [
                tuple(s) for s in extract_document(
                    inputs.corpus_html(i, self.seed), tree)
            ]
            for i in sample
        }

    def _job(self, d: str) -> None:
        from html_to_document_spark.operators.lineage import (
            run_with_checkpoint,
        )

        run_with_checkpoint(
            self.spark,
            self.spark.read.parquet(self.input),
            os.path.join(d, "out"),
            os.path.join(d, "lineage"),
            n_buckets=self.N_BUCKETS,
            chunk_buckets=self.CHUNK_BUCKETS,
            stage_path=os.path.join(d, "stage"),
        )

    def _readback(self, d: str) -> list:
        """Per-bucket (docs, spans, checksum) of the written output, the
        checksum computed as lineage_of computes it."""
        from pyspark.sql import functions as F

        return (
            self.spark.read.parquet(os.path.join(d, "out"))
            .groupBy("partition_id")
            .agg(
                F.count("*").alias("docs"),
                F.sum(F.size("spans")).alias("spans"),
                F.conv(F.expr("bit_xor(xxhash64(doc_id, to_json(spans)))"),
                       10, 16).alias("checksum"),
            )
            .collect()
        )

    def run(self, i: int):
        d = os.path.join(self.work, "runs", str(i))
        self._job(d)
        return d, self._readback(d)

    def _verify(self, result):
        from pyspark.sql import functions as F

        d, rows = result
        try:
            out = {r.partition_id: (r.docs, r.spans, r.checksum)
                   for r in rows}
            require(sum(v[0] for v in out.values()) == self.n_docs(),
                    "output doc count != input doc count")
            lineage = self.spark.read.parquet(
                os.path.join(d, "lineage")).collect()
            require(sorted(r.partition_id for r in lineage) == sorted(out),
                    "lineage buckets != output buckets")
            for r in lineage:
                # output_count counts spans; input_count counts docs
                require(
                    (r.input_count, r.output_count, r.checksum)
                    == out[r.partition_id],
                    f"lineage row {r.partition_id} disagrees with output",
                )
            got = {
                r.doc_id: [tuple(s) for s in r.spans]
                for r in self.spark.read.parquet(os.path.join(d, "out"))
                .filter(F.col("doc_id").isin(list(self.expected)))
                .select("doc_id", "spans").collect()
            }
            require(got == self.expected,
                    "sampled spans differ from the tree walker's")
            return frozenset(out.items())
        finally:
            shutil.rmtree(d, ignore_errors=True)

    def traced(self, tr) -> dict[str, float]:
        from pyspark.sql import functions as F

        from html_to_document_spark.operators.extract_spans import (
            _html_expr,
            extract_spans,
        )

        m: dict[str, float] = {}
        # (e): the job with its real sinks, then the read-back action
        d = os.path.join(self.work, "runs", "traced")
        with tr.span("extract.full"):
            with tr.span("lineage.run_with_checkpoint"):
                self._job(d)
            with tr.span("extract.readback"):
                rows = self._readback(d)
        m["extract.full_s"] = self.traced_run_s = full = tr.wall(
            "extract.full")
        m["extract.spans_out"] = sum(r.spans for r in rows)
        m.update(self._lineage_split(d, tr.get("lineage.run_with_checkpoint")))
        self.check((d, rows))

        src = self.spark.read.parquet(self.input)
        html = src.select("doc_id", _html_expr().alias("html"))
        m["extract.html_mb_in"] = html.select(
            F.sum(F.octet_length("html"))).first()[0] / 1e6

        def identity(batches):
            yield from batches

        legs = {
            "a": lambda: _noop(html),
            "b": lambda: _noop(html.mapInArrow(identity, html.schema)),
            "d": lambda: _noop(extract_spans(src)),
        }
        t = {}
        for leg, fn in legs.items():
            with tr.span(f"extract.leg_{leg}"):
                t[leg] = _timed(fn, self.REPS)
        m["extract.scan_assemble_s"] = t["a"]
        m["extract.arrow_hop_s"] = t["b"] - t["a"]
        m["extract.udf_s"] = t["d"] - t["b"]
        m["extract.sink_s"] = full - t["d"]

        with tr.span("core.stream_extract"):
            m.update(self._walker())
        m["extract.scaling_eff_1_4"] = self._scaling(tr)
        return m

    def _lineage_split(self, d: str, span: dict) -> dict[str, float]:
        """Stage and per-chunk seconds from the commit times the job
        leaves on disk: the stage marker is written once staging ends,
        and each chunk appends one set of lineage files (one write-job
        uuid in their names) when it ends."""
        staged = os.stat(os.path.join(d, "stage", "_STAGED_COMPLETE")).st_mtime
        ends: dict[str, float] = {}
        lin = os.path.join(d, "lineage")
        for name in os.listdir(lin):
            if name.startswith("part-"):
                job = name.split("-", 2)[2].rsplit("-c", 1)[0]
                mtime = os.stat(os.path.join(lin, name)).st_mtime
                ends[job] = max(ends.get(job, 0.0), mtime)
        bounds = [staged] + sorted(ends.values())
        chunks = [b - a for a, b in zip(bounds, bounds[1:])]
        return {
            "lineage.stage_s": staged - span["start"],
            "lineage.chunk_s": statistics.median(chunks),
            "lineage.chunks": len(chunks),
        }

    def _walker(self) -> dict[str, float]:
        """The production walker alone (``extract_document``'s stream
        path), one Python process, over every doc of the corpus."""
        from html_to_document_spark.core.extract import extract_document

        docs = [(inputs.corpus_html(i, self.seed), False)
                for i in range(self.N_DOCS)]
        docs += [(inputs.corpus_html(i, self.seed, giant=True), True)
                 for i in self.meta["giants"]]
        total = giant = 0.0
        mb = 0.0
        for html, is_giant in docs:
            t = time.perf_counter()
            extract_document(html)
            dt = time.perf_counter() - t
            total += dt
            giant += dt if is_giant else 0.0
            mb += len(html.encode()) / 1e6
        return {
            "walker.docs_per_s_core": len(docs) / total,
            "walker.mb_per_s_core": mb / total,
            "walker.giant_share": giant / total,
        }

    def _scaling(self, tr) -> float:
        """rate(local[cpus]) / (cpus * rate(local[1])) for leg (d) over
        the first PREFIX docs. Ends with a local[1] session, so it runs
        last."""
        from pyspark.sql import functions as F

        from html_to_document_spark.operators.extract_spans import (
            extract_spans,
        )
        from harness import start_session

        def leg():
            prefix = (
                self.spark.read.parquet(self.input)
                .filter(F.col("doc_id") < inputs.doc_id(self.PREFIX))
                .repartition(2 * self.cpus)
            )
            _noop(extract_spans(prefix))

        with tr.span("extract.prefix_local_n"):
            t_n = _timed(leg, self.REPS)
        self.spark.stop()
        self.spark = tr.spark = start_session(self.root, self.work, 1)
        leg()  # first run of the new session's Python workers
        with tr.span("extract.prefix_local_1"):
            t_1 = _timed(leg, self.REPS)
        return (self.PREFIX / t_n) / (self.cpus * self.PREFIX / t_1)


# ---------------------------------------------------------------------------
# crawl_curate
# ---------------------------------------------------------------------------

class CrawlCurate(Workload):
    """plans.crawl.build_crawl_pipeline over a gzipped WARC archive with
    HTML pages, PDFs and planted exact and near duplicates."""

    name = "crawl_curate"
    N_PAGES = 500
    N_FILES = 16
    NEAR_DUP_THRESHOLD = 0.85  # build_training_pipeline's default

    def n_docs(self) -> int:
        return self.exp["n_records"]

    def generate(self) -> None:
        self.warc = os.path.join(self.work, "warc")
        self.exp = inputs.write_warc(
            self.warc, self.seed, self.N_PAGES, self.N_FILES)

    def _build(self, registry: list):
        from html_to_document_spark.plans.crawl import build_crawl_pipeline

        return build_crawl_pipeline(
            self.spark, self.warc, num_partitions=2 * self.cpus,
            cache_registry=registry,
        )

    def _final(self, out) -> list:
        """One action over every output column: a per-row hash of all of
        them, plus the spans of the PDF docs."""
        from pyspark.sql import functions as F

        pdf = F.col("doc_id").isin(list(self.exp["pdf_lines"]))
        return out.select(
            "doc_id",
            F.xxhash64(*out.columns).alias("h"),
            F.when(pdf, F.to_json("spans")).alias("pdf_spans"),
        ).collect()

    def run(self, i: int):
        from html_to_document_spark.plans.pipeline import release_caches

        registry: list = []
        rows = self._final(self._build(registry))
        release_caches(registry)
        return rows

    def _verify(self, rows):
        ids = {r.doc_id for r in rows}
        require(len(ids) == len(rows), "duplicate doc ids in the output")
        for group in self.exp["groups"]:
            kept = [d for d in group if d in ids]
            require(len(kept) == 1,
                    f"planted duplicate group {group} kept {kept}")
        pdf_rows = {r.doc_id: r.pdf_spans for r in rows if r.pdf_spans}
        for did, lines in self.exp["pdf_lines"].items():
            require(did in pdf_rows, f"PDF {did} missing from the output")
            spans = sorted(json.loads(pdf_rows[did]),
                           key=lambda s: s["offset"])
            require([s["text"] for s in spans] == lines,
                    f"PDF {did} lines differ")
        xor = 0
        for r in rows:
            xor ^= r.h
        return len(rows), xor

    def traced(self, tr) -> dict[str, float]:
        from pyspark.sql import functions as F

        from html_to_document_spark.operators.dedup import (
            exact_dedup,
            minhash_lsh_pairs,
        )
        from html_to_document_spark.operators.pdf_extract import pdfs_to_html
        from html_to_document_spark.plans.pipeline import release_caches
        from html_to_document_spark.sources.warc import read_warc

        def consume(df):
            """Row count, from an action that reads every column."""
            return df.select(
                F.count("*"), F.expr(
                    f"bit_xor(xxhash64({', '.join(df.columns)}))")
            ).first()[0]

        m: dict[str, float] = {}
        registry: list = []
        with tr.span("pipeline.run"):
            with tr.span("pipeline.build"):
                out = self._build(registry)
            with tr.span("pipeline.final"):
                rows = self._final(out)
        build = tr.get("pipeline.build")
        m["pipeline.build_s"] = tr.wall("pipeline.build")
        m["pipeline.eager_jobs"] = build["jobs"]
        m["pipeline.eager_s"] = build["job_s"]
        m["pipeline.final_jobs"] = tr.get("pipeline.final")["jobs"]
        m["pipeline.final_s"] = tr.wall("pipeline.final")
        self.traced_run_s = tr.wall("pipeline.run")

        # the dedup layer, rerun on the corpus the pipeline materialized
        # ahead of near-dup removal
        corpus = next(df for df in registry if "text" in df.columns)
        with tr.span("dedup.exact"):
            consume(exact_dedup(corpus))
        with tr.span("dedup.minhash"):
            verified = consume(minhash_lsh_pairs(
                corpus, threshold=self.NEAR_DUP_THRESHOLD))
        with tr.span("dedup.candidates"):
            candidates = consume(minhash_lsh_pairs(corpus, threshold=0.0))
        release_caches(registry)
        self.check(rows)
        m["dedup.exact_s"] = tr.wall("dedup.exact")
        m["dedup.minhash_s"] = tr.wall("dedup.minhash")
        m["dedup.candidate_pairs"] = candidates
        m["dedup.verified_pairs"] = verified
        m["dedup.pair_yield"] = verified / candidates if candidates else 0.0

        with tr.span("warc.read"):
            docs = read_warc(self.spark, self.warc,
                             binary_types=("application/pdf",))
            m["warc.records"] = consume(docs)
        m["warc.read_s"] = tr.wall("warc.read")
        m["warc.mb_in"] = self.exp["bytes"] / 1e6

        with tr.span("pdf.extract"):
            html = pdfs_to_html(
                docs.filter(F.col("content").isNotNull()).drop("html"))
            stats = html.select(
                F.count("*"),
                F.sum((F.length(F.regexp_replace(
                    "html", "<[^>]*>", "")) == 0).cast("int")),
                # the hash makes the action read every column
                F.expr(f"bit_xor(xxhash64({', '.join(html.columns)}))"),
            ).first()
        m["pdf.extract_s"] = tr.wall("pdf.extract")
        m["pdf.docs"] = stats[0]
        m["pdf.empty_docs"] = stats[1]

        rows = QueryRows(self.spark, self.work, self.seed)
        rows.generate()
        m.update(rows.traced(tr))
        return m


# ---------------------------------------------------------------------------
# query rows (traced with crawl_curate)
# ---------------------------------------------------------------------------

def _rowset(pdf) -> tuple:
    """tests/test_entry_contract.py's comparison rule: columns sorted by
    name, dtype kinds, and the rows as an order-insensitive multiset
    (NaN made comparable)."""
    import math

    cols = sorted(pdf.columns)
    kinds = [pdf[c].dtype.kind for c in cols]

    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return v

    rows = sorted(
        (tuple(norm(v) for v in row)
         for row in pdf[cols].itertuples(index=False, name=None)),
        key=repr,
    )
    return cols, kinds, rows


class QueryRows:
    """Rows of ``__spark_entry__.queries()`` whose time goes to plan
    construction and to eager fits and checkpoints inside the query
    function rather than to extraction, each checked against its DuckDB
    ``oracle_sql()`` twin. The set is fixed. They are measured only in
    crawl_curate's traced run (the plans layer): a timed loop of their
    own did not settle within the benchmark's time limit. Heavier rows
    (bloom_incremental, decontaminate_modes, pdf_extract) are left
    out."""

    ROWS = ("lm_perplexity", "dsir_weight", "lang_quality")
    N_DOCS = 1000

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def generate(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        self.sf = os.path.join(self.work, "sf")
        inputs.write_documents(self.sf, self.seed, self.N_DOCS)
        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(
                "create view documents as select * from "
                f"'{os.path.join(self.sf, 'documents.parquet')}'")
            self.expected = {
                row: _rowset(con.execute(oracles[row]).fetchdf())
                for row in self.ROWS
            }
        finally:
            con.close()

    def run(self) -> dict:
        return {row: self.queries[row](self.spark, self.sf).toPandas()
                for row in self.ROWS}

    def check(self, result: dict) -> None:
        for row, pdf in result.items():
            got = _rowset(pdf)
            want = self.expected[row]
            require(got[:2] == want[:2],
                    f"{row}: columns/dtypes {got[:2]} != oracle {want[:2]}")
            require(len(got[2]) == len(want[2]),
                    f"{row}: {len(got[2])} rows != oracle {len(want[2])}")
            require(got[2] == want[2], f"{row}: values differ from oracle")

    def traced(self, tr) -> dict[str, float]:
        """One checked untraced pass (the rows' first run is cold), then
        one traced pass."""
        self.check(self.run())
        m: dict[str, float] = {}
        result = {}
        for row in self.ROWS:
            with tr.span(f"q.{row}.build"):
                df = self.queries[row](self.spark, self.sf)
            with tr.span(f"q.{row}.final"):
                result[row] = df.toPandas()
            build = tr.get(f"q.{row}.build")
            m[f"q.{row}.build_s"] = tr.wall(f"q.{row}.build")
            m[f"q.{row}.eager_jobs"] = build["jobs"]
            m[f"q.{row}.eager_s"] = build["job_s"]
            m[f"q.{row}.final_s"] = tr.wall(f"q.{row}.final")
            m[f"query_s.{row}"] = (m[f"q.{row}.build_s"]
                                   + m[f"q.{row}.final_s"])
        self.check(result)
        return m


WORKLOADS = {w.name: w for w in (ExtractJob, CrawlCurate)}
