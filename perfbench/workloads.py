"""The benchmark's four workloads.

Each is a closed loop with one client: the next op starts only after the
previous one returned and was checked.  A workload generates its inputs
in :meth:`prepare` (part of set-up), warms the session up in
:meth:`warm_up`, runs one op per :meth:`op` call, and checks the final
state in :meth:`finish`.  ``round_size`` ops make one round; a run
measures whole rounds, as many as :meth:`Workload.rounds` derives from
the run length, so every run of one length measures the same ops.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import types as T

from py_data_pipeline_app_spark import pipeline
from py_data_pipeline_app_spark.operators import similarity
from py_data_pipeline_app_spark.plans.queries import QUERIES
from py_data_pipeline_app_spark.sources import ingest
from py_data_pipeline_app_spark.streaming import curation
from py_data_pipeline_app_spark.warehouse import Warehouse

from perfbench import gen
from perfbench.checks import fingerprint

#: relational rows of the registry: reference-fidelity, star-schema joins,
#: aggregates, windows and the as-of join — execution-bound
REPORT_QUERIES = [
    "top_spender_per_category",
    "regional_supplier_volume",
    "asof_last_click_before_purchase",
]

#: read-only corpus rows: dedup, similarity, BPE, text and sampling —
#: plan construction on the driver dominates
CURATION_QUERIES = [
    "similarity_topk_pq",
    "bpe_char_merge_table",
    "dedup_ngram_containment",
    "dsir_importance_selection",
]

STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


@dataclass
class Op:
    latency: float
    ok: bool
    note: str = ""
    # extra timings an op reports beside its latency (e.g. the views)
    extra: dict = field(default_factory=dict)


def dir_usage(root: str) -> tuple[int, int]:
    """(bytes, regular files) under ``root``."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            if os.path.isfile(p) and not os.path.islink(p):
                n_bytes += os.path.getsize(p)
                n_files += 1
    return n_bytes, n_files


class Workload:
    name = ""
    round_size = 1
    #: seconds one round takes on a 4-core host; it turns a run length
    #: into a fixed number of rounds
    round_s = 1.0
    #: how often set-up generates the inputs (the median time counts)
    prepares = 3

    def __init__(self, ctx) -> None:
        self.ctx = ctx

    @property
    def spark(self):
        return self.ctx.spark

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.ctx.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def rounds(self, seconds: float, traced: bool) -> int:
        # a traced run alternates traced and untraced ops: two rounds at least
        return max(2 if traced else 1, round(seconds / self.round_s))

    def prepare(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def finish(self) -> str | None:
        """Final-state check; a message fails every op of the run."""
        return None

    def storage(self) -> dict:
        """{layer: (root, input bytes)} for the stored-bytes metrics."""
        return {}


# ---------------------------------------------------------------------------


class UploadSession(Workload):
    """A fresh warehouse takes a seeded sequence of workbooks; each
    upload is ingest → process_upload → write_excel_report, followed by
    the two GET views (timed apart)."""

    name = "upload_session"
    round_s = 12.5

    def prepare(self) -> None:
        shape = gen.WorkbookShape(**self.ctx.size["workbook"])
        self.book = gen.WorkbookSession(self.fresh_dir("inputs"), self.ctx.seed, shape)
        self.wh_root = self.fresh_dir("warehouse")
        self.reports = self.fresh_dir("reports")
        self.wh = Warehouse(self.spark, self.wh_root)
        self.input_bytes = 0

    def warm_up(self) -> None:
        # the session's first upload, untimed: its rows are part of the
        # ground truth, and the timed uploads meet a warehouse with history
        up = self.book.next_upload()
        res = pipeline.process_upload(
            self.spark, self.wh, ingest.ingest_workbook(self.spark, up.path),
            filename=up.filename, run_ts=up.run_ts,
        )
        pipeline.write_excel_report(res, os.path.join(self.reports, "warm_up.xlsx"))
        pipeline.list_uploads(self.wh).collect()
        pipeline.list_address_changes(self.wh).collect()

    def op(self, i: int) -> Op:
        ctx = self.ctx
        up = self.book.next_upload()
        self.input_bytes += up.n_bytes
        report = os.path.join(self.reports, f"report_{i:04d}.xlsx")
        ctx.op_begin(i)
        t0 = time.perf_counter()
        with ctx.tracer.span("op"):
            sheets = ingest.ingest_workbook(self.spark, up.path)
            res = pipeline.process_upload(
                self.spark, self.wh, sheets, filename=up.filename, run_ts=up.run_ts
            )
            pipeline.write_excel_report(res, report)
        t1 = time.perf_counter()
        ctx.op_end(i)  # the views' jobs are not the op's
        with ctx.tracer.span("pipeline.views"):
            uploads = pipeline.list_uploads(self.wh).collect()
            changes = pipeline.list_address_changes(self.wh).collect()
        t2 = time.perf_counter()

        base = report.rsplit(".", 1)[0]
        got = (
            pq.read_metadata(f"{base}_CategoryTotalsSummary.parquet").num_rows,
            pq.read_metadata(f"{base}_TopSpenders.parquet").num_rows,
            pads.dataset(f"{base}_MergedData", format="parquet").count_rows(),
        )
        want = (up.summary_rows, up.top_rows, up.merged_rows)
        notes = []
        if got != want:
            notes.append(f"report rows {got} != {want}")
        if Counter(tuple(r) for r in uploads) != Counter(self.book.uploads):
            notes.append("uploads view differs from ground truth")
        if Counter(tuple(r) for r in changes) != Counter(self.book.changes):
            notes.append("address_changes view differs from ground truth")
        if not os.path.getsize(report):
            notes.append("empty report workbook")
        return Op(t1 - t0, not notes, "; ".join(notes), {"view": t2 - t1})

    def finish(self) -> str | None:
        df = self.wh.read("customers")
        cols = ["customer_id", "name", "email", "dob", "address", "created_date", "upload_id"]
        got = Counter(tuple(r) for r in df.select(*cols).collect())
        if got != Counter(self.book.state.values()):
            return "final customers table differs from ground truth"
        return None

    def storage(self) -> dict:
        return {"warehouse": (self.wh_root, self.input_bytes)}


# ---------------------------------------------------------------------------


class QueryWorkload(Workload):
    """Registry rows at a fixed data size, in seeded order, each built and
    collected to the driver (every row is small: the rows are chosen so);
    every result is fingerprinted after the timed op and compared with
    its pinned value."""

    queries: list[str] = []

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.round_size = len(self.queries)
        with open(ctx.pins_path) as f:
            self.pins = json.load(f)
        self.seen: dict[str, str] = {}

    def prepare(self) -> None:
        self.tables = self.fresh_dir("tables")
        gen.write_tables(self.tables)
        self.order: list[str] = []

    def warm_up(self) -> None:
        for name in self.queries:
            QUERIES[name](self.spark, self.tables).collect()

    def op(self, i: int) -> Op:
        ctx = self.ctx
        if i % self.round_size == 0:
            self.order = gen.query_order(self.queries, ctx.seed * 7919 + i)
        name = self.order[i % self.round_size]
        fn = QUERIES[name]
        ctx.op_begin(i, build=True)
        t0 = time.perf_counter()
        with ctx.tracer.span("op"):
            with ctx.tracer.span("plans.build"):
                df = fn(self.spark, self.tables)
            ctx.op_execute(i)
            with ctx.tracer.span("plans.execute"):
                rows = df.collect()
        t1 = time.perf_counter()
        ctx.op_end(i)

        fp = fingerprint(df.columns, rows)
        notes = []
        if fp != self.pins.get(name):
            notes.append(f"{name}: fingerprint {fp} != pinned {self.pins.get(name)}")
        if self.seen.setdefault(name, fp) != fp:
            notes.append(f"{name}: fingerprint changed between repetitions")
        return Op(t1 - t0, not notes, "; ".join(notes))


class ReportQueries(QueryWorkload):
    name = "report_queries"
    queries = REPORT_QUERIES
    round_s = 2.5


class CurationQueries(QueryWorkload):
    name = "curation_queries"
    queries = CURATION_QUERIES
    round_s = 7.5


# ---------------------------------------------------------------------------


class CurationStream(Workload):
    """Seeded doc+embedding micro-batches folded with ``curation_fold``
    into span and semantic indexes seeded from a corpus prefix."""

    name = "curation_stream"
    round_s = 7.5
    prepares = 1  # building the semantic index is most of a run's set-up

    def prepare(self) -> None:
        cfg = self.ctx.size["stream"]
        self.texts, self.vecs, _ = gen.corpus_arrays(cfg["n_docs"])
        self.state = self.fresh_dir("index")
        self.out = self.fresh_dir("curated")
        prefix = cfg["prefix"]
        seed_rows = [
            (i, self.texts[i], f"src{i % gen.N_SOURCES}", self.vecs[i].tolist())
            for i in range(prefix)
        ]
        seed_df = self.spark.createDataFrame(seed_rows, STREAM_SCHEMA)
        similarity.build_semantic_index(
            seed_df.select("doc_id", "embedding"),
            f"{self.state}/{curation.SEMANTIC_SUBDIR}",
            threshold=cfg["threshold"],
            n_centroids=cfg["centroids"],
            id_col="doc_id",
            vec_col="embedding",
        )
        self.batches = gen.stream_batches(
            self.texts, self.vecs, prefix, self.ctx.seed,
            min_rows=cfg["min_rows"], max_rows=cfg["max_rows"],
            resend_share=cfg["resend_share"],
        )
        self.folded = 0
        self.input_bytes = 0

    def _fold(self, batch_id: int) -> tuple[gen.StreamBatch, float]:
        batch = next(self.batches)
        df = self.spark.createDataFrame(batch.rows, STREAM_SCHEMA)
        self.folded += len(batch.rows)
        self.input_bytes += sum(
            8 + len(text.encode()) + len(src) + 4 * len(vec)
            for _, text, src, vec in batch.rows
        )
        self.ctx.op_begin(batch_id)
        t0 = time.perf_counter()
        with self.ctx.tracer.span("op"):
            curation.curation_fold(self.spark, self.state, self.out, df, batch_id)
        t1 = time.perf_counter()
        self.ctx.op_end(batch_id)
        return batch, t1 - t0

    def warm_up(self) -> None:
        # batch 0 seeds the span index: its rows count towards the
        # accounting check, its time towards set-up
        self._fold(0)

    def op(self, i: int) -> Op:
        batch, latency = self._fold(i + 1)
        landed = pq.read_table(
            os.path.join(self.out, f"batch-{i + 1:08d}"),
            columns=["doc_id", "sem_kept"],
        ).to_pylist()
        notes = []
        if sorted(r["doc_id"] for r in landed) != [r[0] for r in batch.rows]:
            notes.append(f"batch {i + 1}: landed ids differ from the batch")
        resent = set(batch.resent_ids)
        kept = [r["doc_id"] for r in landed if r["doc_id"] in resent and r["sem_kept"]]
        if kept:
            notes.append(f"batch {i + 1}: exact re-sends kept: {kept[:5]}")
        return Op(latency, not notes, "; ".join(notes))

    def finish(self) -> str | None:
        acc = curation.curation_accounting(self.spark, self.out).collect()
        total = sum(
            r.n_retained + r.n_dropped_semantic + r.n_dropped_quality for r in acc
        )
        if total != self.folded:
            return f"accounting totals {total} != {self.folded} rows folded"
        return None

    def storage(self) -> dict:
        return {"index": (self.state, self.input_bytes)}


WORKLOADS = {
    w.name: w for w in (UploadSession, ReportQueries, CurationQueries, CurationStream)
}
