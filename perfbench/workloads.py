"""The three benchmark workloads, each driving one part of the engine
through its public entry points.

A workload makes its inputs in ``setup``, runs one closed-loop round
per ``run_round`` call (one client: the next call starts when the
previous returns), adds per-layer numbers in ``trace_round`` when the
run is traced, and checks its outputs in ``check``, outside every timed
interval.  A round returns its work units and the latency of each
operation in it; an operation that fails raises.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import sys
import time

import gen
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from spans import Tracer, wrap

from aws_logs_to_parquet_converter_spark import cli
from aws_logs_to_parquet_converter_spark.functions.presto_compat import run_presto_sql
from aws_logs_to_parquet_converter_spark.operators import dedup, similarity, textstats
from aws_logs_to_parquet_converter_spark.operators.compact import compact
from aws_logs_to_parquet_converter_spark.plans import REGISTRY
from aws_logs_to_parquet_converter_spark.plans.extensions import _BM25_CTES, _BM25_QUERIES
from aws_logs_to_parquet_converter_spark.plans.log_domain import (
    _DAYS_APART_PRESTO,
    _LOG_VIEW_DUCKDB,
)
from aws_logs_to_parquet_converter_spark.sources.listing import list_day_paths
from aws_logs_to_parquet_converter_spark.sources.parse import parse_lines, read_raw_logs, with_dt
from aws_logs_to_parquet_converter_spark.testing import canon_rows


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _digest(rows) -> str:
    return hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()


def _parquet_files(root: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
            if f.endswith(".parquet")]


def _duckdb():
    import duckdb

    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    return con


class Workload:
    name = ""
    unit = ""
    # Rounds run and discarded before timing: the first pays class
    # loading, code generation and JIT compilation.
    WARMUP_ROUNDS = 2

    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.tracer = tracer
        self.sizes: dict = {}
        self.input_sha256: dict[str, str] = {}
        self._undo: list = []

    def setup(self) -> None:
        raise NotImplementedError

    def run_round(self) -> tuple[int, list[float]]:
        raise NotImplementedError

    def trace_round(self) -> dict[str, float]:
        return {}

    def warmup_inputs(self):
        """Context in which the warm-up rounds run; by default the real
        inputs."""
        return contextlib.nullcontext()

    def run_counts(self) -> dict[str, float]:
        """Per-layer counts taken once per traced run, outside timing."""
        return {}

    def check(self) -> list[str]:
        raise NotImplementedError

    def close(self) -> None:
        for undo in reversed(self._undo):
            undo()

    def _round_spans(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.tracer.spans
                   if s["round"] == self.tracer.round_id and s["name"] == name)


# -- compaction ---------------------------------------------------------------


class Compaction(Workload):
    """The reference's daily job through ``cli.run``'s per-day loop:
    list one day's raw objects, parse, repartition/sort and write
    dt-partitioned Parquet with dynamic overwrite, so each round
    re-runs the same days idempotently."""

    name = "compaction"
    unit = "lines"
    DAYS = ["2019-03-04", "2019-03-05"]
    LINES_PER_DAY = 120_000
    OBJECTS_PER_DAY = 16
    NUM_FILES = 4
    SOURCE_BUCKET = "monitored-bucket"

    def setup(self) -> None:
        self.raw = os.path.join(self.work, "raw")
        self.facts = gen.write_log_objects(self.raw, self.SOURCE_BUCKET, self.DAYS,
                                           self.LINES_PER_DAY, self.OBJECTS_PER_DAY, self.seed)
        self.input_sha256["raw_logs"] = self.facts["sha256"]
        obj_dir = os.path.join(self.raw, self.SOURCE_BUCKET)
        self.sizes = {"days": len(self.DAYS), "lines": self.facts["lines"],
                      "objects": self.facts["objects"],
                      "raw_bytes": sum(os.path.getsize(os.path.join(obj_dir, f))
                                       for f in os.listdir(obj_dir)),
                      "num_output_files": self.NUM_FILES}
        dest_root = os.path.join(self.work, "dest")
        self.args = cli.build_parser().parse_args([
            "--source-access-log-bucket", self.raw,
            "--source-bucket", self.SOURCE_BUCKET,
            "--destination-log-bucket", dest_root,
            "--destination-log-prefix", "access_logs",
            "--num-output-files", str(self.NUM_FILES),
            "--min-date", self.DAYS[0],
            "--max-date", str(np.datetime64(self.DAYS[-1]) + 1),
        ])
        self.dest = f"{dest_root}/access_logs/{self.SOURCE_BUCKET}"
        self.day_times: list[float] = []
        self.listed: list[int] = []
        # cli looks both names up at call time, so the listing and the
        # per-day job are timed from outside the engine.
        self._undo = [
            wrap(self.tracer, cli, "list_day_paths", "listing.list",
                 lambda took, args, out: self.listed.append(len(out))),
            wrap(self.tracer, cli, "compact", "cli.day_job",
                 lambda took, args, out: self.day_times.append(took)),
        ]

    def run_round(self) -> tuple[int, list[float]]:
        self.day_times.clear()
        self.listed.clear()
        with contextlib.redirect_stdout(sys.stderr):
            rc = cli.run(self.args)
        if rc != 0:
            raise RuntimeError(f"cli.run returned {rc}")
        return self.facts["lines"], list(self.day_times)

    def _paths(self, dt: str) -> list[str]:
        return list_day_paths(self.raw, self.SOURCE_BUCKET, dt)

    def trace_round(self) -> dict[str, float]:
        out = {"listing.list_s": self._round_spans("listing.list"),
               "listing.objects": float(sum(self.listed)),
               "cli.day_job_s": self._round_spans("cli.day_job")}
        out["cli.overhead_s"] = (self._round_spans("round") - out["listing.list_s"]
                                 - out["cli.day_job_s"])
        # Cumulative plan cuts per day, each to a noop sink: scan,
        # +parse, +repartition/sort, then the full compact.  A layer's
        # time is the increment over the previous cut.
        parsed = cli._parse_with_delivery_dt
        steps = [
            lambda p: _noop(read_raw_logs(self.spark, p)),
            lambda p: _noop(parsed(self.spark, p)),
            lambda p: _noop(parsed(self.spark, p).repartition(self.NUM_FILES)
                            .sortWithinPartitions("dt", "request_time")),
            lambda p: compact(parsed(self.spark, p), self.dest, num_files=self.NUM_FILES),
        ]
        cut = [0.0] * len(steps)
        for dt in self.DAYS:
            paths = self._paths(dt)
            for i, step in enumerate(steps):
                with self.tracer.span(f"cut{i}", dt=dt) as rec:
                    step(paths)
                cut[i] += rec["end"] - rec["start"]
        out["parse.scan_s"] = cut[0]
        out["parse.parse_s"] = cut[1] - cut[0]
        out["compact.exchange_sort_s"] = cut[2] - cut[1]
        out["compact.write_s"] = cut[3] - cut[2]
        out["layers.sum_s"] = out["listing.list_s"] + cut[3]
        files = _parquet_files(self.dest)
        out["compact.files_out"] = float(len(files))
        out["compact.bytes_out"] = float(sum(os.path.getsize(f) for f in files))
        out["compact.bytes_out_per_in"] = out["compact.bytes_out"] / self.sizes["raw_bytes"]
        return out

    def run_counts(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        raw = read_raw_logs(self.spark, [p for dt in self.DAYS for p in self._paths(dt)])
        lines_in = raw.count()
        row = parse_lines(raw).agg(F.count(F.lit(1)).alias("rows"),
                                   F.count("error_line").alias("dead")).first()
        ok = row["rows"] - row["dead"]
        return {"parse.lines_in": float(lines_in), "parse.rows_ok": float(ok),
                "parse.dead_letter_rows": float(row["dead"]), "parse.ok_ratio": ok / lines_in}

    def check(self) -> list[str]:
        con = _duckdb()
        rows = con.sql(
            "SELECT CAST(dt AS VARCHAR), COUNT(*), COUNT(error_line) FROM read_parquet("
            f"'{self.dest}/*/*.parquet', hive_partitioning = true) GROUP BY 1").fetchall()
        con.close()
        got = {dt: (n, dead) for dt, n, dead in rows}
        want = {dt: (self.facts["rows_by_dt"][dt], self.facts["dead_letter_by_dt"][dt])
                for dt in self.DAYS}
        if got != want:
            return [f"compaction: per-dt (rows, dead letters) {got} != generated {want}"]
        return []


# -- days_apart ---------------------------------------------------------------

_WAREHOUSE_VIEW = "SELECT * FROM read_parquet('{root}/*/*.parquet', hive_partitioning = true)"
_ONE_DT = "2019-03-04"


def _presto_queries() -> dict[str, str]:
    """The analyst batch, in Presto dialect, over ``s3_access_logs``."""
    gets = "operation = 'REST.GET.OBJECT'\n        AND http_status < 300"
    if gets not in _DAYS_APART_PRESTO:
        raise ValueError("Days-Apart SQL changed: cannot add the dt restriction")
    return {
        "days_apart": _DAYS_APART_PRESTO,
        "days_apart_one_dt": _DAYS_APART_PRESTO.replace(
            gets, f"{gets}\n        AND dt = '{_ONE_DT}'"),
        "status_breakdown": (
            "SELECT operation, CAST(http_status / 100 AS INTEGER) AS status_class,\n"
            "       count(*) AS n, CAST(sum(bytes_sent) AS BIGINT) AS bytes\n"
            'FROM "s3_access_logs"\nGROUP BY 1, 2'),
    }


def _duckdb_twins(root: str) -> dict[str, str]:
    """DuckDB-dialect twins of the batch: the registry's oracle text
    with its derived log view swapped for the warehouse files."""
    view = _WAREHOUSE_VIEW.format(root=root)
    days = REGISTRY["q_days_apart"].oracle.replace(_LOG_VIEW_DUCKDB, view)
    status = REGISTRY["q_log_status_breakdown"].oracle.replace(_LOG_VIEW_DUCKDB, view)
    gets = "WHERE operation = 'REST.GET.OBJECT' AND http_status < 300"
    if _LOG_VIEW_DUCKDB in days + status or gets not in days:
        raise ValueError("registry oracle text changed: cannot derive the DuckDB twins")
    return {"days_apart": days,
            "days_apart_one_dt": days.replace(gets, f"{gets} AND dt = '{_ONE_DT}'"),
            "status_breakdown": status}


def _scan_metrics(df) -> tuple[float, float, float]:
    """(files, bytes, rows) read by the file scans of ``df``'s executed
    plan, from the scan nodes' SQL metrics."""
    files = size = rows = 0.0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if kind == "FileSourceScanExec":
            m = node.metrics()
            get = lambda k: float(m.get(k).get().value()) if m.get(k).isDefined() else 0.0  # noqa: E731
            files += get("numFiles")
            size += get("filesSize")
            rows += get("numOutputRows")
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return files, size, rows


class DaysApart(Workload):
    """The analyst half of ``analysis``: a dt-partitioned warehouse that
    set-up writes with the same ``compact`` code, and per round the
    Presto-dialect batch through ``run_presto_sql``, results collected."""

    name = "days_apart"
    unit = "queries"
    DAYS = [f"2019-03-{d:02d}" for d in range(1, 9)]
    LINES = 150_000
    NUM_FILES = 4

    def setup(self) -> None:
        lines, self.input_sha256["warehouse_lines"] = gen.warehouse_lines(
            self.LINES, self.DAYS, self.seed)
        raw = os.path.join(self.work, "warehouse_raw")
        os.makedirs(raw)
        step = math.ceil(len(lines) / 8)
        for j in range(8):
            with open(os.path.join(raw, f"part-{j}.log"), "w") as fh:
                fh.write("\n".join(lines[j * step:(j + 1) * step]) + "\n")
        self.root = os.path.join(self.work, "warehouse", "s3_access_logs")
        compact(with_dt(parse_lines(read_raw_logs(self.spark, raw))).where("dt IS NOT NULL"),
                self.root, num_files=self.NUM_FILES)
        self.spark.sql("DROP TABLE IF EXISTS s3_access_logs")
        self.spark.sql(f"CREATE TABLE s3_access_logs USING PARQUET LOCATION '{self.root}'")
        self.spark.sql("MSCK REPAIR TABLE s3_access_logs")
        self.queries = _presto_queries()
        files = _parquet_files(self.root)
        self.sizes = {"lines": self.LINES, "days": len(self.DAYS), "files": len(files),
                      "bytes": sum(os.path.getsize(f) for f in files),
                      "queries_per_round": len(self.queries)}
        self.results: dict[str, set[str]] = {q: set() for q in self.queries}
        self.last: dict[str, list] = {}
        self.scan: dict[str, tuple] = {}

    def run_round(self) -> tuple[int, list[float]]:
        lat = []
        for name, sql in self.queries.items():
            t = time.perf_counter()
            with self.tracer.span("presto.translate", query=name):
                df = run_presto_sql(self.spark, sql)
            with self.tracer.span("presto.exec", query=name):
                rows = df.collect()
            lat.append(time.perf_counter() - t)
            self.results[name].add(_digest(rows))
            self.last[name] = (df.columns, rows)
            if self.tracer.enabled:
                self.scan[name] = (*_scan_metrics(df), len(rows))
        return len(self.queries), lat

    def trace_round(self) -> dict[str, float]:
        tot = [sum(v[i] for v in self.scan.values()) for i in range(4)]
        return {"presto.translate_s": self._round_spans("presto.translate"),
                "presto.exec_s": self._round_spans("presto.exec"),
                "scan.files_read": tot[0], "scan.bytes_read": tot[1],
                "scan.rows_read": tot[2], "scan.rows_per_result": tot[2] / max(tot[3], 1)}

    def check(self) -> list[str]:
        errors = []
        con = _duckdb()
        for name, sql in _duckdb_twins(self.root).items():
            res = con.sql(sql)
            want = canon_rows(res.fetchall(), res.columns)
            cols, rows = self.last[name]
            if canon_rows(rows, cols) != want or sorted(cols) != sorted(res.columns):
                errors.append(f"days_apart: {name} differs from its DuckDB twin")
            if len(self.results[name]) != 1:
                errors.append(f"days_apart: {name} returned different rows across rounds")
            if not want:
                errors.append(f"days_apart: {name} returned no rows")
        con.close()
        return errors


# -- corpus_dedup ---------------------------------------------------------------

NEAR_RECALL_FLOOR = 0.9


class CorpusDedup(Workload):
    """The LLM-data half of ``analysis``, over a generated corpus:
    normalized fingerprint dedup, MinHash/LSH near-duplicates,
    clustered semantic dedup and BM25 retrieval, one call each per
    round."""

    name = "corpus_dedup"
    unit = "documents"
    WARMUP_PARTS = 2  # warm up on 2 of the 8 input files: same plans, a quarter of the rows
    DOCS = 2000
    VECTORS = 1200
    TARGET_CELL = 250
    PARTS = 8

    def setup(self) -> None:
        c = gen.corpus(self.DOCS, self.seed, words_per_doc=45)
        e = gen.embeddings(self.VECTORS, self.seed)
        self.input_sha256.update(corpus=c["sha256"], embeddings=e["sha256"])
        self.planted = {"exact": set(c["exact_dups"]), "near": c["near_pairs"],
                        "vec_dups": e["dup_pairs"]}
        self.doc_dir = os.path.join(self.work, "documents")
        emb_dir = os.path.join(self.work, "embeddings")
        docs = pa.table({"doc_id": pa.array(c["doc_id"], pa.int64()), "text": c["text"]})
        embs = pa.table({"vec_id": pa.array(e["vec_id"], pa.int64()),
                         "embedding": pa.array(list(e["embedding"]), pa.list_(pa.float32()))})
        for table, path in ((docs, self.doc_dir), (embs, emb_dir)):
            os.makedirs(path)
            step = math.ceil(table.num_rows / self.PARTS)
            for j in range(self.PARTS):
                pq.write_table(table.slice(j * step, step), os.path.join(path, f"part-{j}.parquet"))
        self.docs = self.spark.read.parquet(self.doc_dir)
        self.emb = self.spark.read.parquet(emb_dir)
        self.warm = [self.spark.read.parquet(*[os.path.join(d, f"part-{j}.parquet")
                                               for j in range(self.WARMUP_PARTS)])
                     for d in (self.doc_dir, emb_dir)]
        self.recording = True
        self.qdf = self.spark.createDataFrame(_BM25_QUERIES, ["query_id", "query_text"])
        self.sizes = {"documents": self.DOCS, "vectors": self.VECTORS,
                      "target_cell_size": self.TARGET_CELL,
                      "exact_dups": len(self.planted["exact"]),
                      "near_pairs": len(self.planted["near"]),
                      "vector_dups": len(self.planted["vec_dups"])}
        self.outputs: dict[str, list] = {}
        self.digests: dict[str, set[str]] = {}
        self.cells: list[int] = []
        self._undo = [wrap(self.tracer, similarity, "kmeans_cell_centroids",
                           "similarity.kmeans",
                           lambda took, args, out: self.cells.append(len(out)))]

    @contextlib.contextmanager
    def warmup_inputs(self):
        """The cold rounds cost mostly fixed per-call work (code
        generation, JIT, Python worker start), which a quarter of the
        corpus pays as fully as the whole; their outputs are not kept."""
        full = self.docs, self.emb
        self.docs, self.emb = self.warm
        self.recording = False
        try:
            yield
        finally:
            self.docs, self.emb = full
            self.recording = True

    def _op(self, name: str, make, lat: list) -> None:
        t = time.perf_counter()
        with self.tracer.span(f"{name}.call"):
            df = make()
        with self.tracer.span(f"{name}.collect"):
            rows = df.collect()
        lat.append(time.perf_counter() - t)
        if self.recording:
            self.outputs[name] = rows
            self.digests.setdefault(name, set()).add(_digest(rows))

    def run_round(self) -> tuple[int, list[float]]:
        lat: list[float] = []
        self._op("fingerprint", lambda: dedup.fingerprint_keep_first(
            self.docs, "doc_id", "text").select("doc_id"), lat)
        self._op("minhash", lambda: dedup.minhash_near_duplicates(
            self.docs, "doc_id", "text", threshold=0.5).select("id_a", "id_b"), lat)
        self._op("semantic", lambda: similarity.semantic_dedup(
            self.emb, n_cells="auto", target_cell_size=self.TARGET_CELL).select("vec_id"), lat)
        self._op("bm25", lambda: textstats.bm25_topk(
            self.docs, self.qdf, "doc_id", "text", k=5), lat)
        return self.DOCS, lat

    def trace_round(self) -> dict[str, float]:
        kept = len(self.outputs["minhash"])
        return {"dedup.fingerprint_s": (self._round_spans("fingerprint.call")
                                        + self._round_spans("fingerprint.collect")),
                "dedup.signatures_s": self._round_spans("minhash.call"),
                "dedup.candidates_s": self._round_spans("minhash.collect"),
                "dedup.pairs_kept": float(kept),
                "similarity.semantic_dedup_s": (self._round_spans("semantic.call")
                                                + self._round_spans("semantic.collect")),
                "similarity.cells": float(self.cells[-1]),
                "similarity.kept": float(len(self.outputs["semantic"])),
                "textstats.bm25_s": (self._round_spans("bm25.call")
                                     + self._round_spans("bm25.collect"))}

    def run_counts(self) -> dict[str, float]:
        # every LSH candidate pair: the same call with no Jaccard filter
        cand = dedup.minhash_near_duplicates(self.docs, "doc_id", "text", threshold=0.0).count()
        kept = len(self.outputs["minhash"])
        return {"dedup.candidate_pairs": float(cand), "dedup.kept_ratio": kept / max(cand, 1)}

    def check(self) -> list[str]:
        errors = []
        kept = {r[0] for r in self.outputs["fingerprint"]}
        if kept != set(range(self.DOCS)) - self.planted["exact"]:
            errors.append(f"corpus_dedup: fingerprint kept {len(kept)} docs; expected every "
                          "planted exact duplicate removed and every other doc kept")
        pairs = {(r[0], r[1]) for r in self.outputs["minhash"]}
        recall = sum(p in pairs for p in self.planted["near"]) / len(self.planted["near"])
        if recall < NEAR_RECALL_FLOOR:
            errors.append(f"corpus_dedup: minhash near-dup recall {recall:.3f} < floor")
        vec_kept = {r[0] for r in self.outputs["semantic"]}
        dups = {d for _, d in self.planted["vec_dups"]}
        dropped = set(range(self.VECTORS)) - vec_kept
        if len(dropped & dups) / len(dups) < NEAR_RECALL_FLOOR or dropped - dups:
            errors.append(f"corpus_dedup: semantic dedup dropped {len(dropped & dups)} of "
                          f"{len(dups)} planted duplicates and {len(dropped - dups)} others")
        if not self.cells or min(self.cells) < 2:
            errors.append(f"corpus_dedup: semantic dedup ran with cells={self.cells[-1:]}")
        errors += self._check_bm25()
        for name, seen in self.digests.items():
            if len(seen) != 1:
                errors.append(f"corpus_dedup: {name} output differs across rounds")
        return errors

    def _check_bm25(self) -> list[str]:
        """Against the registry's BM25 oracle CTE chain on DuckDB.
        Scores compare to 1e-9 relative; ranks compare as score lists,
        so equal-score documents may take either order."""
        con = _duckdb()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.doc_dir}/*.parquet')")
        ranked = con.sql(_BM25_CTES + " SELECT query_id, doc_id, matched_terms, score, rnk "
                         "FROM bm25_ranked").fetchall()
        con.close()
        oracle = {(q, d): (m, s) for q, d, m, s, _ in ranked}
        top: dict[str, list[float]] = {}
        for q, _, _, s, r in ranked:
            if r <= 5:
                top.setdefault(q, []).append(s)
        got: dict[str, list[float]] = {}
        for q, d, m, s, _ in self.outputs["bm25"]:
            o = oracle.get((q, d))
            if o is None or o[0] != m or not math.isclose(o[1], s, rel_tol=1e-9):
                return [f"corpus_dedup: bm25 row ({q}, {d}, {m}, {s}) not in the oracle"]
            got.setdefault(q, []).append(s)
        for q in set(top) | set(got):
            a, b = sorted(top.get(q, [])), sorted(got.get(q, []))
            if len(a) != len(b) or not all(math.isclose(x, y, rel_tol=1e-9) for x, y in zip(a, b)):
                return [f"corpus_dedup: bm25 top-5 scores for {q} differ from the oracle"]
        if not got:
            return ["corpus_dedup: bm25 returned no rows"]
        return []


# -- analysis -------------------------------------------------------------------


class Analysis(Workload):
    """The read side: each round runs the Presto batch, then the corpus
    operators.  Neither writes; both read Parquet.  One workload keeps
    the run count (and so the benchmark's total time) within budget."""

    name = "analysis"
    unit = "operations"

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = [DaysApart(*args), CorpusDedup(*args)]

    def setup(self) -> None:
        for p in self.parts:
            p.setup()
            self.sizes[p.name] = p.sizes
            self.input_sha256.update(p.input_sha256)

    def warmup_inputs(self):
        return self.parts[1].warmup_inputs()

    def run_round(self) -> tuple[int, list[float]]:
        units, lat = 0, []
        for p in self.parts:
            _, more = p.run_round()
            units += len(more)
            lat += more
        return units, lat

    def _merge(self, method: str):
        out = {}
        for p in self.parts:
            out.update(getattr(p, method)())
        return out

    def trace_round(self) -> dict[str, float]:
        return self._merge("trace_round")

    def run_counts(self) -> dict[str, float]:
        return self._merge("run_counts")

    def check(self) -> list[str]:
        return [e for p in self.parts for e in p.check()]

    def close(self) -> None:
        for p in self.parts:
            p.close()


WORKLOADS = {w.name: w for w in (Compaction, Analysis)}
