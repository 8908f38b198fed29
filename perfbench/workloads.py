"""The benchmark's workloads: each builds its inputs, warms the session,
runs one operation (or one pass of operations) through the package's
public entry points, and checks what it committed.

See NOTES.md for why each exists and which layers it loads.
"""

from __future__ import annotations

import hashlib
import time
from contextlib import nullcontext
from dataclasses import dataclass, field, replace
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from rca_pdf_extraction_pipeline_spark.config import DEFAULT_CONFIG
from rca_pdf_extraction_pipeline_spark.operators import extraction, skew
from rca_pdf_extraction_pipeline_spark.plans import checkpoint
from rca_pdf_extraction_pipeline_spark.sources import fixtures

import tables

#: the run_extraction command-line defaults
N_BUCKETS, WAVES = 64, 8
#: the interleaved-docs schema (fixtures.SPAN_SCHEMA_DDL) in Arrow form
SPANS_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([("kind", pa.string()),
                                  ("text", pa.string()),
                                  ("media_ref", pa.string()),
                                  ("offset", pa.int32())])))])


@dataclass
class Op:
    """One finished operation: its wall time, the input documents it
    consumed, the wall-clock times of its durable commits, where its
    output lives, and the seconds of each part it is made of."""
    wall_s: float
    docs: int
    start: float
    commits: list[float]
    out: Path
    report: dict = field(default_factory=dict)
    parts: dict[str, float] = field(default_factory=dict)


def value_hash(df: pd.DataFrame) -> tuple:
    """Engine-independent digest of a result table: its sorted column
    names, its row count and a hash of its rows as normalized strings
    (floats rounded to 9 places), sorted, so row order does not count."""
    df = df[sorted(df.columns)]

    def norm(v) -> str:
        if v is None or (isinstance(v, float) and v != v):
            return "null"
        if isinstance(v, float):
            return repr(round(v, 9))
        if hasattr(v, "tolist"):
            return norm(v.tolist())
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(map(norm, v)) + "]"
        if isinstance(v, dict):
            return "{" + ",".join(f"{k}:{norm(x)}" for k, x in v.items()) + "}"
        return str(v)

    rows = sorted("\x1f".join(map(norm, r))
                  for r in df.itertuples(index=False, name=None))
    return (tuple(df.columns), len(rows),
            hashlib.sha256("\x1e".join(rows).encode()).hexdigest())


class Workload:
    name = ""

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed
        self.input: Path | None = None
        self.n_docs = 0
        #: opens a trace span around a part of an operation
        self.span = lambda name: nullcontext()

    @property
    def op_names(self) -> tuple[str, ...]:
        """The operations one :meth:`run` performs, each checked and
        counted on its own."""
        return (self.name,)

    def build_inputs(self, dest: Path) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def run(self, out: Path) -> Op:
        raise NotImplementedError

    def read_output(self, op: Op):
        """Read the committed output back as a consumer would, and
        digest it."""
        raise NotImplementedError

    def output_files(self, op: Op) -> int:
        raise NotImplementedError

    def check(self, op: Op, got) -> dict[str, list[str]]:
        """Problems found, by operation name."""
        raise NotImplementedError


class PdfExtract(Workload):
    """The sf0.1 documents as one-span documents plus 64 replicas of the
    253-page golden document through ``extract_with_checkpoint`` at the
    extraction job's command-line settings, crashed after 4 of 8 waves
    and resumed."""
    name = "pdf_extract"
    N_GOLDEN = 64
    #: (rows, sum of xxhash64(key, spans), golden replicas, golden
    #: replicas equal to fixtures.expected_golden_output) of one
    #: uncheckpointed extract_documents pass over this input.  The key
    #: drops the seed's label from the doc_id, so the figures hold for
    #: every seed; ``python3 perfbench/pin.py`` recomputes them.
    REFERENCE = (5064, -17056553643279208362, 64, 64)
    #: xxhash64 of fixtures.expected_golden_output()'s spans
    GOLDEN_HASH = -8121948400396205880

    def build_inputs(self, dest: Path) -> None:
        docs = tables.read("sf0.1", "documents", self.seed)
        orig = tables.read("sf0.1", "documents", 0).column("doc_id")
        golden = fixtures.build_golden_doc()["spans"]
        # "<kind>-<label>-<n>": the label moves the document across
        # buckets, n names its content
        ids = [f"corpus-{i}-{n}" for i, n in
               zip(docs.column("doc_id").to_pylist(), orig.to_pylist())]
        ids += [f"golden-s{self.seed}-{k}" for k in range(self.N_GOLDEN)]
        spans = [[{"kind": "text", "text": "1|" + t, "media_ref": None,
                   "offset": 0}] for t in docs.column("text").to_pylist()]
        spans += [golden] * self.N_GOLDEN
        self.input = tables.write(
            pa.table({"doc_id": ids, "spans": spans}, schema=SPANS_SCHEMA),
            dest / "docs.parquet")
        self.n_docs = len(ids)

    def golden_hash(self) -> int:
        """What GOLDEN_HASH pins."""
        expected = fixtures.docs_to_spark(
            self.spark, [fixtures.expected_golden_output()])
        return expected.select(F.xxhash64("spans")).first()[0]

    def warm_up(self) -> None:
        """The extraction transform over eight documents in one Python
        task: the session's first job, its first Python worker and the
        same Python boundary, without the checkpoint."""
        docs = self.spark.read.parquet(str(self.input))
        self.digest(extraction.extract_documents(docs.limit(8).coalesce(1)))

    def reference_pass(self) -> tuple[int, ...]:
        """The digest of one uncheckpointed pass, one partition per core
        (the figures REFERENCE pins)."""
        cfg = replace(DEFAULT_CONFIG,
                      num_partitions=self.spark.sparkContext.defaultParallelism)
        docs = skew.salted_repartition(
            self.spark.read.parquet(str(self.input)), cfg)
        return self.digest(extraction.extract_documents(docs, cfg))

    def digest(self, df) -> tuple[int, ...]:
        golden = F.col("doc_id").startswith("golden-")
        key = F.regexp_replace("doc_id", "-[^-]+-", "-")
        r = df.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(key, "spans").cast("decimal(38,0)")),
            F.count_if(golden),
            F.count_if(golden & (F.xxhash64("spans")
                                 == F.lit(self.GOLDEN_HASH)))).first()
        return tuple(int(v or 0) for v in r)

    def run(self, out: Path) -> Op:
        t0 = time.time()
        docs = self.spark.read.parquet(str(self.input))
        kw = dict(cfg=DEFAULT_CONFIG, n_buckets=N_BUCKETS, waves=WAVES,
                  input_desc=str(self.input))
        crashed = checkpoint.extract_with_checkpoint(docs, out, max_waves=4,
                                                     **kw)
        resumed = checkpoint.extract_with_checkpoint(docs, out, **kw)
        wall = time.time() - t0
        commits = [s["committed_at"]
                   for s in checkpoint.SnapshotManifest(out).load()]
        return Op(wall, self.n_docs, t0, commits, out,
                  {"crashed": crashed, "resumed": resumed})

    def read_output(self, op: Op) -> tuple[int, ...]:
        return self.digest(checkpoint.read_extracted(self.spark, op.out))

    def output_files(self, op: Op) -> int:
        files = checkpoint.SnapshotManifest(op.out).committed_files()
        return sum(len(fl or ()) for fl in files.values())

    def check(self, op: Op, got) -> dict[str, list[str]]:
        manifest = checkpoint.SnapshotManifest(op.out)
        problems = []
        if manifest.completed_buckets() != set(range(N_BUCKETS)):
            problems.append("manifest: buckets remaining")
        docs = sum(s["metrics"]["docs"] for s in manifest.load())
        if docs != self.n_docs:
            problems.append(f"manifest: {docs} docs committed, "
                            f"{self.n_docs} input")
        if got[:2] != self.REFERENCE[:2]:
            problems.append(f"readback digest {got[:2]} != uncheckpointed "
                            f"pass {self.REFERENCE[:2]}")
        if got[2:] != (self.N_GOLDEN, self.N_GOLDEN):
            problems.append(f"golden replicas found, equal to the golden "
                            f"spans: {got[2:]} of {self.N_GOLDEN}")
        if op.report["crashed"]["waves_run"] != 4 \
                or op.report["resumed"]["resumed_from"] != N_BUCKETS // 2:
            problems.append(f"crash/resume report {op.report}")
        return {self.name: problems}


class QueryMix(Workload):
    """One pass, in fixed order, over ``__spark_entry__.queries()``
    entries at sf0.01, each result committed as a parquet table and read
    back; every result must equal the query's DuckDB oracle
    (``oracle_sql()``) over the same tables."""
    name = "query_mix"
    QUERIES = (
        # the operator modules no shipped job reaches; NOTES.md says why
        # ann_sq8_topk stands for ann_ivfadc_topk and which are left out
        "multimodal_decode_jpeg", "ann_sq8_topk", "link_pagerank",
        "epoch_shards", "pack_interleaved", "hist_quantiles",
        "containment_pairs",
        # run_web_extract's transform
        "html_main_spans")
    TABLES = ("documents", "embeddings")

    @property
    def op_names(self) -> tuple[str, ...]:
        return self.QUERIES

    def build_inputs(self, dest: Path) -> None:
        import __spark_entry__ as entry

        self.input = dest / "sf"
        for t in self.TABLES:
            tables.write(tables.read("sf0.01", t, self.seed),
                         self.input / f"{t}.parquet")
        self.n_docs = pq.read_metadata(
            self.input / "documents.parquet").num_rows
        every = entry.queries()
        self.fns = {q: every[q] for q in self.QUERIES}
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in self.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{self.input / t}.parquet'")
        self.reference = {q: value_hash(con.sql(oracles[q]).df())
                          for q in self.QUERIES}
        con.close()

    def warm_up(self) -> None:
        """One small job through a Python worker, so the first query does
        not carry the session's first job.  The queries themselves run
        cold, as one spark-submit run of them would."""
        self.spark.range(64).mapInPandas(lambda it: it, "id long").count()

    def run(self, out: Path) -> Op:
        t0 = time.time()
        commits, parts = [], {}
        for q in self.QUERIES:
            t = time.time()
            with self.span(f"q.{q}"):
                self.fns[q](self.spark, str(self.input)).write.parquet(
                    str(out / q))
            commits.append(time.time())
            parts[q] = commits[-1] - t
        return Op(commits[-1] - t0, self.n_docs, t0, commits, out,
                  parts=parts)

    def read_output(self, op: Op) -> dict[str, tuple]:
        return {q: value_hash(self.spark.read.parquet(str(op.out / q))
                              .toPandas())
                for q in self.QUERIES}

    def output_files(self, op: Op) -> int:
        return sum(1 for q in self.QUERIES
                   for _ in (op.out / q).glob("*.parquet"))

    def check(self, op: Op, got) -> dict[str, list[str]]:
        return {q: [] if got[q] == self.reference[q] else
                [f"{q}: result {got[q][:2]} != DuckDB oracle "
                 f"{self.reference[q][:2]}"]
                for q in self.QUERIES}


WORKLOADS = {w.name: w for w in (PdfExtract, QueryMix)}
