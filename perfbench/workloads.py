"""The benchmark's workloads: seeded inputs, the closed-loop job list of
one pass, the output check of every job, and the traced layer calls.

Each workload calls the program the way a user would, through its
public functions, on files the generator wrote. Every job's output is
checked after the job's timed call; a job that raises or fails its check
counts as failed.

- `ingest`: the paper's scheduled Extract -> Stage -> Geoprocess -> Load
  run (`Pipeline.run`) over GeoJSON / Esri JSON file sources, then the
  dedup stream drained over a seeded event stream. Write-heavy and bound
  by per-job and per-trigger fixed cost: many small jobs, stage tables,
  loads, state commits. The sessionize and upsert streams are traced
  layer calls only.
- `similarity`: lexical near-duplicate detection (`jaccard_verified_pairs`
  and the persisted LSH index) and point queries against a persisted IVF
  index. Few writes; bound by per-job fixed cost at these sizes. The rest
  of the lexical family and the vector gates are traced layer calls only.

A pass is short, so that a run measures several and reports medians:
one long pass a run spread too far from run to run on a shared host.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import gen
from harness import dir_bytes, median

EVENT_SCHEMA = ("event_id bigint, ts string, user_id bigint, event_type string, "
                "value double, props string")
TS_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _repo_tools():
    """tools/check_correctness.py: the repo's table hash and norm rules."""
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check_correctness

    return check_correctness


def _rows(df):
    return [tuple(r) for r in df.collect()], df.columns


def _unchecked(_out) -> None:
    """A layer call whose output the pass's own job already checks."""
    return None


class Oracle:
    """DuckDB twins of suite queries over the generated tables."""

    def __init__(self, sf_dir: str, tables: list[str]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {min(4, os.cpu_count() or 1)}")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        self.cc = _repo_tools()

    def hash(self, sql: str) -> tuple[int, str]:
        rel = self.con.execute(sql)
        cols = [d[0] for d in rel.description]
        rows = [tuple(d[c] for c in cols) for d in rel.fetch_arrow_table().to_pylist()]
        return len(rows), self.cc.table_hash(rows, cols)

    def close(self):
        self.con.close()


class Workload:
    name: str

    def __init__(self, spark, seed: int, tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.op_ms: list[float] = []   # closed-loop point-operation latencies
        self.recall: list[float] = []  # share of each check's expected output found

    # generate(dir) is pure (no Spark) so set-up can repeat it cheaply
    def generate(self, root: str) -> dict:
        raise NotImplementedError

    def prepare(self, info: dict, root: str) -> None:
        """Adopt one generated input set and compute the check oracles."""
        raise NotImplementedError

    def build(self) -> None:
        """Program work done once at set-up (counted in setup_s)."""

    def jobs(self) -> list[tuple]:
        """[(name, call, check)]: call() is timed; check(result) -> error
        text or None runs after it, untimed."""
        raise NotImplementedError

    def once_checks(self) -> list[tuple]:
        """[(name, fn)] run once per run outside the timed passes."""
        return []

    def layer_calls(self) -> list[tuple]:
        """[(span name, call, check)] isolated layer calls for the traced
        run, checked like jobs."""
        raise NotImplementedError

    def input_rows(self) -> int:
        raise NotImplementedError

    def stored_bytes(self) -> int:
        raise NotImplementedError

    def input_bytes(self) -> int:
        raise NotImplementedError

    def layer_metrics(self, tracer) -> dict:
        raise NotImplementedError


# --------------------------------------------------------------- ingest

class Ingest(Workload):
    name = "ingest"

    UPSERT_BUCKETS = 8  # sized to the 16 keys, as a user sizes the target

    def generate(self, root: str) -> dict:
        geo = gen.write_geo_sources(os.path.join(root, "geo"), self.seed)
        ev = gen.write_events(os.path.join(root, "stream"), os.path.join(root, "sf"),
                              self.seed)
        return {"geo": geo, "events": ev}

    def prepare(self, info: dict, root: str) -> None:
        from op_etl_spark.config.loader import load_config

        self.info = info
        self.root = root
        self.cfg = load_config(info["geo"]["config"], info["geo"]["sources"])
        self.workspace = info["geo"]["workspace"]
        self.sf = os.path.join(root, "sf")
        events = pq.read_table(os.path.join(self.sf, "events.parquet")).to_pylist()
        latest: dict[int, dict] = {}
        for r in events:
            if r["user_id"] not in latest or r["event_id"] > latest[r["user_id"]]["event_id"]:
                latest[r["user_id"]] = r
        self.expected_upsert = sorted(
            (u, r["event_id"], r["ts"].strftime("%Y-%m-%d %H:%M:%S.%f"), r["value"])
            for u, r in latest.items())
        self.progress_log: dict[str, list[dict]] = {}
        # every drain is checked against these: the DuckDB sessionize
        # oracle over the delivered rows and the generator's distinct ids
        from op_etl_spark.suite.relational import ORACLE_SESSIONIZE
        from op_etl_spark.suite.stream_windows import ORACLE_CDC_LATEST_STATE

        self.cc = _repo_tools()
        self.delivered = os.path.join(root, "sf_delivered")
        os.makedirs(self.delivered, exist_ok=True)
        shutil.copy(os.path.join(self.sf, "delivered.parquet"),
                    f"{self.delivered}/events.parquet")
        self.session_hash = self._oracle_hash(self.delivered, ORACLE_SESSIONIZE)
        self.cdc_hash = self._oracle_hash(self.sf, ORACLE_CDC_LATEST_STATE)
        self.dedup_ids = sorted(r["event_id"] for r in events)

    @staticmethod
    def _oracle_hash(sf: str, sql: str) -> tuple[int, str]:
        o = Oracle(sf, ["events"])
        try:
            return o.hash(sql)
        finally:
            o.close()

    def input_rows(self) -> int:
        return self.info["geo"]["n_features"] + self.info["events"]["n_delivered"]

    def input_bytes(self) -> int:
        return self.info["geo"]["input_bytes"]

    def stored_bytes(self) -> int:
        """The pipeline's tables; the pass's dedup drain writes to memory."""
        ws = self.workspace
        return sum(dir_bytes(f"{ws}/{t}") for t in ("staging", "processed", "sde"))

    # --- jobs ---

    def _pipeline(self):
        from op_etl_spark.plans.pipeline import Pipeline
        from op_etl_spark.run import default_connectors

        pipe = Pipeline(self.spark, self.cfg, connectors=default_connectors())
        return pipe, pipe.run(self.workspace)

    def _check_pipeline(self, out) -> str | None:
        pipe, result = out
        bad = [m[0] for m in pipe.metrics_rows if not m[5]]
        if bad:
            return f"sources failed: {bad}"
        got = {n: pads.dataset(p, format="parquet").count_rows()
               for n, p in result.get("loaded", {}).items()}
        want = self.info["geo"]["expected"]
        self.recall.append(sum(min(got.get(n, 0), v) for n, v in want.items())
                           / sum(want.values()))
        if got != want:
            return f"loaded rows {got} != planted {want}"
        return None

    def _stream(self):
        from pyspark.sql import functions as F

        return (self.spark.readStream.schema(EVENT_SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .json(self.info["events"]["stream_dir"])
                .withColumn("ts", F.to_timestamp("ts", TS_FORMAT)))

    def _fresh(self, kind: str) -> str:
        """A fresh checkpoint (and target) directory for one drain."""
        path = os.path.join(self.root, "drains", kind)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def _drain(self, kind: str, writer_fn):
        d = self._fresh(kind)
        q = writer_fn(d)
        q.awaitTermination()
        self.tracer.adopt_group(str(q.runId))
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [json.loads(p.json) for p in q.recentProgress]
        progress = [p for p in progress if p["numInputRows"] > 0]
        if self.tracer.enabled:
            self.progress_log.setdefault(kind, []).extend(progress)
        self.op_ms.extend(p["durationMs"]["triggerExecution"] for p in progress)
        return progress

    def _memory_drain(self, kind: str, frame, mode: str):
        name = f"perfbench_{kind}"
        progress = self._drain(kind, lambda d: (
            frame.writeStream.format("memory").queryName(name).outputMode(mode)
            .option("checkpointLocation", f"{d}/ck").trigger(availableNow=True).start()))
        return progress, name

    def _sessionize(self):
        from op_etl_spark.streaming.stateful import sessionize_stream

        return self._memory_drain("sessionize", sessionize_stream(self._stream()), "update")

    def _dedup(self):
        from op_etl_spark.streaming.dedup import dedup_events_stream

        return self._memory_drain("dedup", dedup_events_stream(
            self._stream(), keys=["event_id"], watermark="7 days"), "append")

    def _upsert(self):
        from op_etl_spark.streaming.upsert import start_upsert_stream

        def start(d):
            self._target = f"{d}/target"
            updates = self._stream().select("user_id", "event_id", "ts", "value")
            return start_upsert_stream(updates, self._target, f"{d}/ck", ["user_id"],
                                       "event_id", n_buckets=self.UPSERT_BUCKETS,
                                       available_now=True)

        return self._drain("upsert", start)

    def _check_drain(self, progress) -> str | None:
        n_in = sum(p["numInputRows"] for p in progress)
        if n_in != self.info["events"]["n_delivered"]:
            return f"drained {n_in} rows != delivered {self.info['events']['n_delivered']}"
        if len(progress) != self.info["events"]["n_files"]:
            return f"{len(progress)} non-empty triggers != {self.info['events']['n_files']} files"
        return None

    def _check_sessions(self, out) -> str | None:
        """Final session rows (update mode re-emits growing sessions) must
        equal the DuckDB sessionize oracle over the delivered rows."""
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        progress, name = out
        w = W.partitionBy("user_id", "session_id").orderBy(F.desc("n_events"))
        final = (self.spark.table(name).withColumn("rn", F.row_number().over(w))
                 .filter("rn = 1").select("user_id", "session_id", "n_events", "session_start"))
        rows, cols = _rows(final)
        self.spark.catalog.dropTempView(name)
        if (len(rows), self.cc.table_hash(rows, cols)) != self.session_hash:
            return f"session stream ({len(rows)} rows) differs from the sessionize oracle"
        return self._check_drain(progress)

    def _check_dedup(self, out) -> str | None:
        progress, name = out
        got = sorted(r[0] for r in self.spark.table(name).select("event_id").collect())
        self.spark.catalog.dropTempView(name)
        if got != self.dedup_ids:
            return f"dedup stream emitted {len(got)} ids != {len(self.dedup_ids)} distinct events"
        return self._check_drain(progress)

    def _check_upsert(self, progress) -> str | None:
        from op_etl_spark.streaming.upsert import read_upsert_target
        from pyspark.sql import functions as F

        got = sorted(tuple(r) for r in read_upsert_target(self.spark, self._target).select(
            "user_id", "event_id", F.date_format("ts", TS_FORMAT), "value").collect())
        self.recall.append(len(set(got) & set(self.expected_upsert)) / len(self.expected_upsert))
        if got != self.expected_upsert:
            return f"upsert target differs from latest-per-key ({len(got)} vs {len(self.expected_upsert)} keys)"
        return self._check_drain(progress)

    def jobs(self):
        return [
            ("pipeline.run", self._pipeline, self._check_pipeline),
            ("streaming.dedup", self._dedup, self._check_dedup),
        ]

    def _batch_twins(self) -> str | None:
        """Once per run, after the passes: the suite's batch twins of the
        three streams against the same oracles the drains are checked
        against."""
        from op_etl_spark.streaming.dedup import dedup_events_stream
        from op_etl_spark.suite.relational import sessionize_events
        from op_etl_spark.suite.stream_windows import cdc_latest_state

        errors = []
        for sf, entry, want in ((self.sf, cdc_latest_state, self.cdc_hash),
                                (self.delivered, sessionize_events, self.session_hash)):
            rows, cols = _rows(entry(self.spark, sf))
            if (len(rows), self.cc.table_hash(rows, cols)) != want:
                errors.append(f"{entry.__name__} differs from its DuckDB oracle")
            if entry is cdc_latest_state and sorted(rows) != self.expected_upsert:
                errors.append("cdc_latest_state differs from the planted latest-per-key")
        batch = self.spark.read.parquet(os.path.join(self.sf, "delivered.parquet"))
        ids = sorted(r[0] for r in dedup_events_stream(batch).select("event_id").collect())
        if ids != self.dedup_ids:
            errors.append("batch dedup of the delivered rows lost or kept duplicates")
        return "; ".join(errors) or None

    def once_checks(self):
        return [("batch_twins", self._batch_twins)]

    # --- traced layer calls: each on input its upstream step already wrote ---

    def layer_calls(self):
        from op_etl_spark.geometry.ops import clip_to_aoi, define_projection, reproject
        from op_etl_spark.plans.staging import (
            STAGING_EPSG, elect_geometry_type, stage_features, validate_magnitude)
        from op_etl_spark.sinks.load import truncate_and_load
        from op_etl_spark.sources.geojson import read_feature_files
        from op_etl_spark.plans.pipeline import Pipeline
        from op_etl_spark.run import default_connectors

        spark = self.spark
        lay = os.path.join(self.root, "layers")
        files = [{"path": p, "source_name": s["name"], "authority": s["authority"]}
                 for s in self.cfg["sources"] for p in s["raw"]["paths"]]
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731

        def parsed():
            read_feature_files(spark, files).write.mode("overwrite").parquet(f"{lay}/parsed")
            pre = define_projection(elect_geometry_type(spark.read.parquet(f"{lay}/parsed")),
                                    STAGING_EPSG)
            validate_magnitude(pre).write.mode("overwrite").parquet(f"{lay}/validated")
            self.layer_rows = {"parsed": spark.read.parquet(f"{lay}/parsed").count(),
                               "validated": spark.read.parquet(f"{lay}/validated").count(),
                               "staged": spark.read.parquet(f"{self.workspace}/staging").count()}

        def step(s):
            return lambda: Pipeline(spark, self.cfg, connectors=default_connectors()).run(
                self.workspace, steps=(s,))

        def load():
            part = spark.read.parquet(f"{self.workspace}/processed")
            truncate_and_load(part, f"{lay}/loaded")
            self.sinks_bytes = dir_bytes(f"{lay}/loaded")

        aoi = tuple(self.cfg["geoprocessing"]["aoi_bbox"])
        calls = [
            ("setup.layer_inputs", parsed),
            ("plans.download_step", step("download")),
            ("plans.process_step", step("process")),
            ("plans.load_step", step("load")),
            ("sources.read_feature_files", lambda: noop(read_feature_files(spark, files))),
            ("plans.stage_features",
             lambda: noop(stage_features(spark.read.parquet(f"{lay}/parsed")))),
            ("geometry.reproject",
             lambda: noop(reproject(spark.read.parquet(f"{lay}/validated"), STAGING_EPSG))),
            ("geometry.clip_to_aoi",
             lambda: noop(clip_to_aoi(spark.read.parquet(f"{self.workspace}/staging"), aoi))),
            ("sinks.truncate_and_load", load),
        ]
        out = [(name, call, _unchecked) for name, call in calls]
        # the two streams no pass drains: twice each, so the median is
        # not only a first call's class loading and codegen
        for _ in range(2):
            out += [("streaming.sessionize", self._sessionize, self._check_sessions),
                    ("streaming.upsert", self._upsert, self._check_upsert)]
        return out

    def layer_metrics(self, tr) -> dict:
        def dur(name):
            return median([s["end"] - s["start"] for s in tr.by_name(name)])

        def ctr(name, key):
            return median([s["counters"][key] for s in tr.by_name(name)])

        n_src = len(self.cfg["sources"])
        udf = {}
        for name in ("geometry.reproject", "geometry.clip_to_aoi"):
            for s in tr.by_name(name):
                for k, v in s["counters"]["python_udf_rows"].items():
                    udf[k] = udf.get(k, 0) + v
        rows_in = self.layer_rows["validated"] + self.layer_rows["staged"]
        out = {
            "sources.read_feature_files_s": dur("sources.read_feature_files"),
            "sources.python_rows": ctr("sources.read_feature_files", "python_rows"),
            "plans.download_step_s": dur("plans.download_step"),
            "plans.process_step_s": dur("plans.process_step"),
            "plans.load_step_s": dur("plans.load_step"),
            "plans.stage_features_s": dur("plans.stage_features"),
            "plans.jobs_per_source": ctr("pipeline.run", "jobs") / n_src,
            "plans.shuffle_bytes": ctr("pipeline.run", "shuffle_bytes"),
            "geometry.reproject_s": dur("geometry.reproject"),
            "geometry.clip_to_aoi_s": dur("geometry.clip_to_aoi"),
            "geometry.udf_rows_share": sum(udf.values()) / rows_in,
            "sinks.truncate_and_load_s": dur("sinks.truncate_and_load"),
            "sinks.bytes_written": self.sinks_bytes,
            "upsert.bytes_written": dir_bytes(self._target),
        }
        for kind in ("sessionize", "dedup", "upsert"):
            spans = tr.by_name(f"streaming.{kind}")
            prog = self.progress_log.get(kind, [])
            d = [p["durationMs"] for p in prog]
            pre = f"streaming.{kind}."
            out[pre + "drain_s"] = median([s["end"] - s["start"] for s in spans])
            for phase in ("addBatch", "walCommit", "commitOffsets", "queryPlanning"):
                out[pre + phase + "_ms"] = median([x.get(phase, 0) for x in d])
            out[pre + "fixed_trigger_ms"] = median(
                [x["triggerExecution"] - x.get("addBatch", 0) for x in d])
            if kind == "upsert":
                continue
            st = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
            out[pre + "state_rows"] = st[-1]["numRowsTotal"] if st else 0
            out[pre + "state_bytes"] = st[-1]["memoryUsedBytes"] if st else 0
            out[pre + "state_commit_ms"] = median([x["commitTimeMs"] for x in st])
            out[pre + "state_partitions"] = (
                st[-1]["numShufflePartitions"] if st else 0)
        return out


# ----------------------------------------------------------- similarity

# the suite entry of every pass
PASS_ENTRIES = (("dedup", "jaccard_verified_pairs"),)
# the rest of the lexical family and the three vector gates do not fit in
# a short pass within the run time budget: the traced run calls each one
# once, after the passes, and checks it against its oracle
LAYER_ENTRIES = tuple(("dedup", e) for e in (
    "prefix_filter_jaccard_pairs", "containment_pairs", "weighted_jaccard_pairs",
    "ngram_jaccard_pairs_capped", "minhash_lsh_candidates", "simhash64_near_pairs")) + (
    ("ann_recall", "ivf_recall_at_k"), ("pq_ann", "pq_recall_at_k"),
    ("similarity", "semantic_dedup"))
DEDUP_ENTRIES = [e for m, e in PASS_ENTRIES + LAYER_ENTRIES if m == "dedup"]
VECTOR_GATES = [f"{m}.{e}" for m, e in LAYER_ENTRIES if m != "dedup"]


class Similarity(Workload):
    name = "similarity"

    N_SEARCHES = 5
    N_LISTS = 8
    LSH_BANDS = 4  # N_HASHES / BAND_ROWS bands per document

    def generate(self, root: str) -> dict:
        sf = os.path.join(root, "sf")
        docs = gen.write_documents(sf, self.seed)
        emb = gen.write_embeddings(sf, self.seed)
        return {"docs": docs, "emb": emb}

    def prepare(self, info: dict, root: str) -> None:
        from op_etl_spark.suite.dedup import JACCARD_THRESHOLD

        self.info = info
        self.sf = os.path.join(root, "sf")
        self.idx = os.path.join(root, "index")
        spark = self.spark
        self.docs = spark.read.parquet(f"{self.sf}/documents.parquet")
        self.delta = spark.read.parquet(f"{self.sf}/delta.parquet")
        self.emb = spark.read.parquet(f"{self.sf}/embeddings.parquet")
        self.append = spark.read.parquet(f"{self.sf}/append.parquet")
        # exact near-duplicate matches of the delta against the corpus
        corpus = pq.read_table(f"{self.sf}/documents.parquet").to_pydict()
        delta = pq.read_table(f"{self.sf}/delta.parquet").to_pydict()
        csh = [gen.shingles(t) for t in corpus["text"]]
        self.exact_delta = {}
        for nid, text in zip(delta["doc_id"], delta["text"]):
            a = gen.shingles(text)
            for oid, b in zip(corpus["doc_id"], csh):
                inter = len(a & b)
                jac = np.floor(inter / (len(a) + len(b) - inter) * 1e4 + 0.5) / 1e4
                if jac >= JACCARD_THRESHOLD:
                    self.exact_delta[(nid, oid)] = (inter, jac)
        # exact top-10 cosine neighbours of each query, in float64
        v = info["emb"]["corpus"].astype(np.float64)
        self.vn = v / np.linalg.norm(v, axis=1, keepdims=True)
        self.queries = info["emb"]["queries"]
        self.exact_top = []
        for q in self.queries:
            cos = self.vn @ (q / np.linalg.norm(q))
            self.exact_top.append(set(np.lexsort((np.arange(len(cos)), -cos))[:10].tolist()))
        self.cc = _repo_tools()
        self.oracle = self._oracle_hashes(PASS_ENTRIES)
        self.entry_rows: dict[str, int] = {}
        self.ivf_phases: list[dict] = []
        self.delta_recall: list[float] = []
        self.delta_floor: int | None = None  # set by the warm-up pass's call

    def _oracle_hashes(self, entries) -> dict:
        import importlib

        o = Oracle(self.sf, ["documents", "embeddings"])
        try:
            return {e: o.hash(importlib.import_module(f"op_etl_spark.suite.{m}").ORACLE[e])
                    for m, e in entries}
        finally:
            o.close()

    def input_rows(self) -> int:
        return (self.info["docs"]["n_docs"] + self.info["docs"]["n_delta"]
                + self.info["emb"]["n_vecs"])

    def input_bytes(self) -> int:
        return self.info["docs"]["input_bytes"] + self.info["emb"]["input_bytes"]

    def stored_bytes(self) -> int:
        return dir_bytes(self.idx)

    # --- jobs ---

    def _suite(self, mod: str, entry: str):
        import importlib

        from op_etl_spark.operators import phases

        fn = getattr(importlib.import_module(f"op_etl_spark.suite.{mod}"), entry)

        def call():  # the IVF gate records its index-build phases
            phases.reset()
            out = _rows(fn(self.spark, self.sf))
            if entry == "ivf_recall_at_k":
                self.ivf_phases.append(phases.snapshot().get("ivf_build", {}))
            return out
        return call

    def _check_suite(self, entry: str):
        def check(out):
            rows, cols = out
            self.entry_rows[entry] = len(rows)
            got = (len(rows), self.cc.table_hash(rows, cols))
            if got != self.oracle[entry]:
                return f"{entry} {got} != oracle {self.oracle[entry]}"
            return None
        return check

    def _check_counts(self, sub: str, want: int):
        def check(_):
            got = pads.dataset(f"{self.idx}/{sub}", format="parquet").count_rows()
            return None if got == want else f"{sub} holds {got} rows != {want}"
        return check

    def _build_lsh(self):
        from op_etl_spark.operators.dedup_index import build_dedup_index

        build_dedup_index(self.docs, f"{self.idx}/lsh")

    def _delta(self):
        from op_etl_spark.operators.dedup_index import dedup_delta

        return [tuple(r) for r in dedup_delta(self.spark, f"{self.idx}/lsh", self.delta).collect()]

    def _check_delta(self, rows) -> str | None:
        """Every pair must be an exact match. LSH finds a share of the
        exact matches that depends on the seed, so the first call of the
        run (in the untimed warm-up pass) must find at least one, and sets
        the floor every later call is held to."""
        for nid, oid, n_common, jac in rows:
            if self.exact_delta.get((nid, oid)) != (n_common, jac):
                return f"dedup_delta pair ({nid}, {oid}) is not an exact match"
        if len(set(rows)) != len(rows):
            return "dedup_delta reports a pair twice"
        if self.exact_delta and not rows:
            return f"dedup_delta found none of the {len(self.exact_delta)} exact matches"
        if self.delta_floor is None:
            self.delta_floor = len(rows)
        if len(rows) < self.delta_floor:
            return (f"dedup_delta found {len(rows)} exact matches, fewer than the "
                    f"{self.delta_floor} of the run's first call")
        self.delta_recall.append(len(rows) / max(len(self.exact_delta), 1))
        return None

    def _append_lsh(self):
        from op_etl_spark.operators.dedup_index import append_to_index

        append_to_index(self.spark, f"{self.idx}/lsh", self.delta)

    def _check_centroids(self, centroids) -> str | None:
        if len(centroids) != self.N_LISTS:
            return f"IVF build returned {len(centroids)} centroids"
        return None

    def build(self) -> None:
        """The IVF index is built once and then queried, as a search
        service would; the build is timed as set-up, and per layer in the
        traced run."""
        from op_etl_spark.operators.ann_index import build_ivf_index

        err = self._check_centroids(
            build_ivf_index(self.emb, f"{self.idx}/ivf", n_lists=self.N_LISTS))
        if err:
            raise RuntimeError(err)

    def layer_calls(self):
        from op_etl_spark.operators.ann_index import (
            VECTORS_DIR, build_ivf_index, ivf_append_batch)

        self.oracle.update(self._oracle_hashes(LAYER_ENTRIES))
        rebuild = f"{self.idx}/ivf_rebuild"
        n_vecs, n_append = self.info["emb"]["n_vecs"], self.info["emb"]["n_append"]

        def check_append(touched):
            if not touched or not set(touched) <= set(range(self.N_LISTS)):
                return f"ivf_append_batch touched lists {touched}"
            return self._check_counts(f"ivf_rebuild/{VECTORS_DIR}", n_vecs + n_append)(None)

        calls = [
            ("ann_index.build", lambda: build_ivf_index(self.emb, rebuild, n_lists=self.N_LISTS),
             self._check_centroids),
            ("ann_index.append", lambda: ivf_append_batch(self.spark, rebuild, self.append),
             check_append),
        ]
        calls += [(f"{m}.{e}", self._suite(m, e), self._check_suite(e))
                  for m, e in LAYER_ENTRIES]
        return calls

    def _search(self, i: int):
        from op_etl_spark.operators.ann_index import ivf_search

        q = [float(x) for x in self.queries[i]]

        def call():
            t0 = time.perf_counter()
            rows = [tuple(r) for r in ivf_search(self.spark, f"{self.idx}/ivf", q).collect()]
            self.op_ms.append((time.perf_counter() - t0) * 1e3)
            return rows
        return call

    def _check_search(self, i: int):
        def check(rows):
            if len(rows) != 10:
                return f"search {i} returned {len(rows)} rows"
            qn = self.queries[i] / np.linalg.norm(self.queries[i])
            for vid, _lid, cos in rows:
                if abs(float(self.vn[vid] @ qn) - cos) > 1e-9:
                    return f"search {i}: cosine of {vid} is {cos}"
            self.recall.append(len({r[0] for r in rows} & self.exact_top[i]) / 10)
            return None
        return check

    def jobs(self):
        n_docs, n_delta = self.info["docs"]["n_docs"], self.info["docs"]["n_delta"]
        others = [
            *[(f"{m}.{e}", self._suite(m, e), self._check_suite(e)) for m, e in PASS_ENTRIES],
            ("dedup_index.build", self._build_lsh,
             self._check_counts("lsh/bands", self.LSH_BANDS * n_docs)),
            ("dedup_index.delta", self._delta, self._check_delta),
            ("dedup_index.append", self._append_lsh,
             self._check_counts("lsh/shingles", n_docs + n_delta)),
        ]
        searches = [("ann_index.search", self._search(i), self._check_search(i))
                    for i in range(self.N_SEARCHES)]
        # one search after each other job: a slow spell of the host then
        # lands on one latency sample, not on all of them
        out = []
        for job, search in zip(others, searches):
            out += [job, search]
        return out + others[len(searches):] + searches[len(others):]

    def layer_metrics(self, tr) -> dict:
        def dur(name):
            return median([s["end"] - s["start"] for s in tr.by_name(name)])

        def ctr(name, key):
            return median([s["counters"][key] for s in tr.by_name(name)])

        verified = self.entry_rows["jaccard_verified_pairs"]
        candidates = self.entry_rows["minhash_lsh_candidates"]
        out = {f"dedup.{e}_s": dur(f"dedup.{e}") for e in DEDUP_ENTRIES}
        out.update({
            "dedup.shuffle_bytes": sum(ctr(f"dedup.{e}", "shuffle_bytes") for e in DEDUP_ENTRIES),
            "dedup.python_bytes": sum(ctr(f"dedup.{e}", "python_bytes") for e in DEDUP_ENTRIES),
            "dedup.candidates": candidates,
            "dedup.verified_pairs": verified,
            "dedup.verified_per_candidate": verified / candidates,
            "dedup_index.build_s": dur("dedup_index.build"),
            "dedup_index.delta_s": dur("dedup_index.delta"),
            "dedup_index.append_s": dur("dedup_index.append"),
            "dedup_index.delta_recall": median(self.delta_recall),
            "dedup_index.bytes_written": dir_bytes(f"{self.idx}/lsh"),
            "ann_index.build_s": dur("ann_index.build"),
            "ann_index.search_s": dur("ann_index.search"),
            "ann_index.append_s": dur("ann_index.append"),
            "ann_index.rows_read_per_search": ctr("ann_index.search", "input_rows"),
            "ann_index.jobs_per_build": ctr("ann_index.build", "jobs"),
            "vector.python_bytes": sum(ctr(g, "python_bytes") for g in VECTOR_GATES),
            "vector.shuffle_bytes": sum(ctr(g, "shuffle_bytes") for g in VECTOR_GATES),
        })
        out.update({g + "_s": dur(g) for g in VECTOR_GATES})
        for ph in ("quantize", "seeds", "lloyd", "assign"):
            out[f"ann_recall.build_{ph}_s"] = median(
                [snap.get(ph, 0.0) for snap in self.ivf_phases if snap])
        return out


WORKLOADS = {w.name: w for w in (Ingest, Similarity)}
