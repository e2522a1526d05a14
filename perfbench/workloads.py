"""The four workloads. Each is a closed loop with one client: the next
operation starts when the previous one returns.

A workload object goes through ``generate`` (pure Python: seeded
inputs to files), ``setup`` (load and prepare them in a session),
``op`` (one timed operation; returns its latency and keeps what the
check needs) and ``check`` (after the loop, outside every timing).
``attach`` re-binds a prepared workload to a fresh session.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.queries import SHAPES, make_query


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _sort_key(row) -> tuple:
    return tuple(
        (0, "") if v is None else (1, round(v, 2)) if isinstance(v, float)
        else (1, v)
        for v in row
    )


def same_multiset(got: list, want: list) -> bool:
    if len(got) != len(want):
        return False
    got = sorted((tuple(r) for r in got), key=_sort_key)
    want = sorted((tuple(r) for r in want), key=_sort_key)
    return all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


class Workload:
    name = ""
    unit = "op"
    min_ops = 3
    # The loop runs whole cycles of this many operations, so every run
    # sees the same operation mix.
    cycle = 1
    # Leading loop operations that only warm up (checked, not timed).
    # They run once per session rather than in every set-up repetition,
    # which keeps a run inside the benchmark's time budget.
    warm_ops = 0

    def __init__(self, size: dict, tracer):
        self.size = size
        self.tracer = tracer
        self.records: list[dict] = []

    def span(self, name: str):
        return self.tracer.span(name)

    def attach(self, spark) -> None:
        """Re-bind the prepared workload to a fresh session."""
        self.spark = spark

    def details(self, recs: list[dict], e2e: dict) -> dict:
        """The workload's own named metrics: aliases of the end-to-end
        values in ``e2e`` plus figures only the workload has."""
        return {}

    def layer_extra(self, recs: list[dict]) -> dict:
        return {}


# ---- spj_dialect ----------------------------------------------------------


class SpjDialect(Workload):
    """Generated dialect queries: parse -> lower -> collect."""

    name = "spj_dialect"
    unit = "query"
    cycle = warm_ops = len(SHAPES)
    # four cycles: enough queries for a tail with ten samples past it
    min_ops = 4 * cycle

    def generate(self, rng, data_dir: str) -> None:
        self.data_dir = data_dir
        self.rows = gen.star_schema(rng, data_dir, self.size["scale"])

    def setup(self, spark, work_dir: str) -> None:
        self.attach(spark)

    def attach(self, spark) -> None:
        from kaj_query_engine_spark import KajEngine

        self.spark = spark
        self.engine = KajEngine(spark)
        with self.span("catalog.load_fixtures"):
            self.engine.load_fixtures(self.data_dir)

    def _run(self, q) -> tuple[float, list]:
        from kaj_query_engine_spark.dialect.lowering import lower
        from kaj_query_engine_spark.dialect.parser import parse

        t0 = time.perf_counter()
        with self.span("dialect.parse"):
            ir = parse(q[1])
        with self.span("dialect.lower"):
            df = lower(ir, self.engine.catalog)
        with self.span("spark.action"):
            rows = df.collect()
        return time.perf_counter() - t0, rows

    def op(self, i: int, rng) -> dict:
        q = make_query(rng, i, self.rows)
        latency, rows = self._run(q)
        rec = {"latency": latency, "kind": q[0], "query": q, "rows": rows}
        self.records.append(rec)
        return rec

    def check(self) -> tuple[int, int]:
        con = duckdb.connect()
        for t in self.rows:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.data_dir}/{t}.parquet')"
            )
        bad = 0
        for rec in self.records:
            _shape, _kaj, ansi, sort_col = rec["query"]
            want = con.execute(ansi).fetchall()
            got = [tuple(r) for r in rec["rows"]]
            ok = same_multiset(got, want)
            if ok and sort_col is not None:
                keys = [r[sort_col] for r in rec["rows"]]
                ok = keys == sorted(keys, reverse=True)
            bad += not ok
            rec["rows"] = None
        con.close()
        return len(self.records), bad

    def details(self, recs, e2e):
        # the query tail is the report's op_tail
        return {
            "spj.query_p50_s": e2e["op_p50_s"],
            "spj.queries_per_s": e2e["ops_per_s"],
        }


# ---- corpus_build -----------------------------------------------------------

FUNNEL = ("quality_gate", "exact_dedup", "near_dedup", "decontaminated",
          "packed_chunks")


class CorpusBuild(Workload):
    """One ``build_training_corpus`` per operation, fresh output dir."""

    name = "corpus_build"
    unit = "build"
    # A build is job-bound, whatever the corpus size, and the first
    # build in a JVM takes about twice as long as later ones (Spark
    # compiles its generated code then). The time budget of a run
    # allows one build, so the operation is the build a user of a
    # fresh session sees: the first.
    min_ops = 1
    warm_ops = 0

    def generate(self, rng, data_dir: str) -> None:
        self.data_dir = data_dir
        self.expected = gen.documents(rng, data_dir, self.size["docs"])

    def setup(self, spark, work_dir: str) -> None:
        self.out_dir = os.path.join(work_dir, "builds")
        self.attach(spark)

    def attach(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(f"{self.data_dir}/documents.parquet")
        self.evals = spark.read.parquet(f"{self.data_dir}/eval.parquet")

    def op(self, i: int, rng) -> dict:
        from kaj_query_engine_spark.operators.pipeline import (
            build_training_corpus,
        )

        out = os.path.join(self.out_dir, f"b{len(self.records)}")
        t0 = time.perf_counter()
        with self.span("pipeline.build"), self.span("spark.action"):
            _manifest, funnel = build_training_corpus(
                self.docs, "doc_id", "text", out, benchmarks=self.evals,
                max_tokens=256, num_shards=4,
            )
        rec = {"latency": time.perf_counter() - t0, "kind": "build",
               "out": out, "funnel": dict(funnel)}
        self.records.append(rec)
        return rec

    def check(self) -> tuple[int, int]:
        bad = 0
        first = self.records[0]["funnel"]
        for rec in self.records:
            f = rec["funnel"]
            try:
                exported = self.spark.read.parquet(rec["out"]).count()
            except Exception:  # a missing or unreadable export is a failure
                exported = -1
            ok = (
                f == first
                and all(f[k] == v for k, v in self.expected.items())
                and f["packed_chunks"] == exported
                and f["raw"] > f["quality_gate"] > f["exact_dedup"]
                > f["near_dedup"] > f["decontaminated"] > 0
            )
            bad += not ok
            shutil.rmtree(rec["out"], ignore_errors=True)
        return len(self.records), bad

    def details(self, recs, e2e):
        return {
            "corpus.docs_per_s": (self.size["docs"] * e2e["ops_per_s"][0], "1/s"),
            "corpus.cold_build_s": (recs[0]["latency"], "s"),
        }

    def layer_extra(self, recs):
        funnel = recs[-1]["funnel"] if recs else {}
        return {f"pipeline.funnel.{k}": float(funnel.get(k, 0)) for k in FUNNEL}


# ---- versioned_upsert -----------------------------------------------------

KEY = "o_orderkey"


class VersionedUpsert(Workload):
    """A write step (read_buckets -> merge_upsert -> commit_keyed) then
    three read steps: latest filter/aggregate, time travel, change feed."""

    name = "versioned_upsert"
    unit = "step"
    min_ops = 8
    cycle = warm_ops = 4

    def generate(self, rng, data_dir: str) -> None:
        self.data_dir = data_dir
        n = self.size["rows"]
        self.live = gen.orders(rng, f"{data_dir}/orders.parquet", n)
        self.next_key = n + 1
        self.batches: list[tuple[int, str, dict]] = []

    def setup(self, spark, work_dir: str) -> None:
        from kaj_query_engine_spark.sources.versioned import VersionedTable

        self.spark = spark
        self.work_dir = work_dir
        self.table = VersionedTable(os.path.join(work_dir, "table"))
        self.table.init(
            spark.read.parquet(f"{self.data_dir}/orders.parquet"),
            bucket_keys=[KEY], n_buckets=8, change_feed=True,
        )

    def op(self, i: int, rng) -> dict:
        step = ("write", "latest", "time_travel", "changes")[i % 4]
        rec = getattr(self, "_" + step)(rng)
        rec["kind"] = step
        self.records.append(rec)
        return rec

    def _write(self, rng) -> dict:
        from kaj_query_engine_spark.operators.maintenance import merge_upsert

        n = max(4, int(len(self.live) * 0.005))
        cols, self.next_key = gen.upsert_batch(rng, self.live, self.next_key, n)
        path = os.path.join(self.work_dir, f"batch{len(self.batches)}.parquet")
        gen.write_parquet(path, cols)
        spark, vt = self.spark, self.table
        t0 = time.perf_counter()
        batch = spark.read.parquet(path)
        touched = batch.select(KEY).distinct()
        with self.span("versioned.read_buckets"):
            info = vt.touched_info(touched)
            base = vt.read_buckets(spark, touched, info=info)
        rows = base.join(F.broadcast(touched), KEY, "left_semi")
        with self.span("maintenance.merge_upsert"):
            merged = merge_upsert(
                rows, batch, [KEY],
                delete_condition=F.col("o_orderstatus") == "D",
            )
        with self.span("versioned.commit_keyed"), self.span("spark.action"):
            version = vt.commit_keyed(merged, touched, info=info)
        latency = time.perf_counter() - t0
        dead = cols[KEY][cols["o_orderstatus"] == "D"]
        self.live = np.union1d(np.setdiff1d(self.live, dead), cols[KEY][
            cols["o_orderstatus"] != "D"])
        self.batches.append((version, path, cols))
        prev = {f["path"] for f in vt.manifest(version - 1)["files"]}
        files = vt.manifest(version)["files"]
        return {
            "latency": latency, "version": version,
            "bytes_added": vt.bytes_added(version), "changed_rows": n,
            "files_live": len(files),
            "files_new": sum(f["path"] not in prev for f in files),
        }

    def _latest(self, rng) -> dict:
        lo = int(rng.integers(1_000, 500_000))
        version = self.table.current_version()
        t0 = time.perf_counter()
        with self.span("versioned.read"):
            df = self.table.read(self.spark)
        agg = df.filter(F.col("o_totalprice") > lo).groupBy("o_orderstatus").agg(
            F.count(F.lit(1)), F.sum("o_totalprice"))
        with self.span("spark.action"):
            rows = agg.collect()
        sql = (
            f"SELECT o_orderstatus, count(*), sum(o_totalprice) FROM t "
            f"WHERE o_totalprice > {lo} GROUP BY o_orderstatus"
        )
        return {"latency": time.perf_counter() - t0, "version": version,
                "rows": [tuple(r) for r in rows], "sql": sql}

    def _time_travel(self, rng) -> dict:
        version = int(rng.integers(0, self.table.current_version() + 1))
        t0 = time.perf_counter()
        with self.span("versioned.read"):
            df = self.table.read(self.spark, version)
        agg = df.agg(
            F.count(F.lit(1)), F.sum("o_totalprice"), F.sum("o_custkey"),
            F.countDistinct("o_orderstatus"),
        )
        with self.span("spark.action"):
            rows = agg.collect()
        return {"latency": time.perf_counter() - t0, "version": version,
                "rows": [tuple(r) for r in rows],
                "sql": "SELECT count(*), sum(o_totalprice), sum(o_custkey), "
                       "count(DISTINCT o_orderstatus) FROM t"}

    def _changes(self, rng) -> dict:
        cur = self.table.current_version()
        lo = max(0, cur - int(rng.integers(1, 4)))
        t0 = time.perf_counter()
        with self.span("versioned.read_changes"):
            df = self.table.read_changes(self.spark, lo, cur)
        agg = df.groupBy("op", "_commit_version").count()
        with self.span("spark.action"):
            rows = agg.collect()
        return {"latency": time.perf_counter() - t0, "range": (lo, cur),
                "rows": [tuple(r) for r in rows]}

    def check(self) -> tuple[int, int]:
        """Replay every applied batch in DuckDB, version by version, and
        compare each read against the replayed state it saw."""
        con = duckdb.connect()
        con.execute(
            f"CREATE TABLE t AS SELECT * FROM "
            f"read_parquet('{self.data_dir}/orders.parquet')"
        )
        by_version: dict[int, list[dict]] = {}
        for rec in self.records:
            if rec["kind"] in ("latest", "time_travel"):
                by_version.setdefault(rec["version"], []).append(rec)
        expected_feed: dict[int, dict] = {}
        bad = 0
        batches = {v: cols for v, _p, cols in self.batches}
        for v in range(0, max(batches, default=0) + 1):
            if v in batches:
                cols = batches[v]
                con.register("b", pa.table(cols))
                n_live = con.execute(
                    f"SELECT count(*) FROM t WHERE {KEY} IN (SELECT {KEY} FROM b)"
                ).fetchone()[0]
                con.execute(f"DELETE FROM t WHERE {KEY} IN (SELECT {KEY} FROM b)")
                con.execute("INSERT INTO t SELECT * FROM b WHERE o_orderstatus <> 'D'")
                con.unregister("b")
                dels = int((cols["o_orderstatus"] == "D").sum())
                n = len(cols[KEY])
                expected_feed[v] = {"U": n_live - dels, "D": dels, "I": n - n_live}
            for rec in by_version.get(v, []):
                bad += not same_multiset(rec["rows"], con.execute(rec["sql"]).fetchall())
        for rec in self.records:
            if rec["kind"] == "changes":
                lo, hi = rec["range"]
                want = [
                    (op, v, c) for v in range(lo + 1, hi + 1)
                    for op, c in expected_feed.get(v, {}).items() if c
                ]
                bad += not same_multiset(rec["rows"], want)
        final = [tuple(r) for r in self.table.read(self.spark).collect()]
        bad += not same_multiset(final, con.execute("SELECT * FROM t").fetchall())
        con.close()
        return len(self.records) + 1, bad

    def details(self, recs, e2e):
        writes = [r for r in recs if r["kind"] == "write"]
        reads = [r["latency"] for r in recs if r["kind"] != "write"]
        return {
            "vt.commit_p50_s": (_pct([r["latency"] for r in writes], 50), "s"),
            "vt.read_p50_s": (_pct(reads, 50), "s"),
            "vt.read_tail": (tail(reads), "s"),
            "vt.ops_per_s": e2e["ops_per_s"],
            "vt.bytes_written_per_row": (
                sum(r["bytes_added"] for r in writes)
                / max(1, sum(r["changed_rows"] for r in writes)), "B/row"),
        }

    def layer_extra(self, recs):
        writes = [r for r in recs if r["kind"] == "write"]
        return {
            "versioned.files_live": _pct([r["files_live"] for r in writes], 50),
            "versioned.files_rewritten_frac": _pct(
                [r["files_new"] / r["files_live"] for r in writes], 50),
        }


# ---- media_decode -----------------------------------------------------------

CODECS = ("png", "jpeg", "gif", "flac")


class MediaDecode(Workload):
    """One stored codec shard decoded per operation, codecs in turn."""

    name = "media_decode"
    unit = "shard"
    min_ops = 8
    cycle = warm_ops = len(CODECS)

    def generate(self, rng, data_dir: str) -> None:
        self.data_dir = data_dir
        self.ids = {}
        for codec in CODECS:
            self.ids[codec] = gen.media_ids(rng, self.size["items"])
            gen.write_parquet(f"{data_dir}/{codec}_ids.parquet",
                       {"doc_id": self.ids[codec]})

    def setup(self, spark, work_dir: str) -> None:
        from kaj_query_engine_spark.operators import multimodal as mm

        attach = {"png": mm.attach_png_media, "jpeg": mm.attach_jpeg_media,
                  "gif": mm.attach_gif_media, "flac": mm.attach_flac_media}
        self.spark = spark
        copies = F.explode(F.sequence(F.lit(1), F.lit(self.size["copies"])))
        self.shards = {c: os.path.join(work_dir, f"{c}.parquet") for c in CODECS}

        for codec in CODECS:
            ids = spark.read.parquet(f"{self.data_dir}/{codec}_ids.parquet")
            # each encoded item is stored ``copies`` times: a shard big
            # enough for the codecs to dominate its decode, without
            # paying the encoders for every stored row in set-up
            attach[codec](ids).withColumn("copy", copies).write.parquet(
                self.shards[codec])


    def op(self, i: int, rng) -> dict:
        from kaj_query_engine_spark.operators import multimodal as mm

        codec = CODECS[i % len(CODECS)]
        t0 = time.perf_counter()
        df = self.spark.read.parquet(self.shards[codec])
        with self.span(f"multimodal.decode.{codec}"):
            if codec == "jpeg":
                out, col = mm.jpeg_coefficients(df), "coeffs"
            elif codec == "flac":
                out, col = mm.decode_audio(df), "samples"
            else:
                out, col = mm.decode_media(df), "pixels"
            with self.span("spark.action"):
                rows = out.select("doc_id", F.sha2(col, 256)).collect()
        rec = {"latency": time.perf_counter() - t0, "kind": codec,
               "digests": [(r[0], r[1]) for r in rows]}
        self.records.append(rec)
        return rec

    def check(self) -> tuple[int, int]:
        want = {
            codec: {
                int(d): hashlib.sha256(gen.MEDIA_MODELS[codec](int(d))).hexdigest()
                for d in self.ids[codec]
            }
            for codec in CODECS
        }
        rows = len(self.ids["png"]) * self.size["copies"]
        bad = sum(
            len(rec["digests"]) != rows
            or any(want[rec["kind"]].get(d) != h for d, h in rec["digests"])
            for rec in self.records
        )
        for rec in self.records:
            rec["digests"] = None
        return len(self.records), bad

    def details(self, recs, e2e):
        items = self.size["items"] * self.size["copies"]
        return {
            "media.decode_p50_s": e2e["op_p50_s"],
            "media.items_per_s": (items * e2e["ops_per_s"][0], "1/s"),
        }


def _pct(values: list[float], p: float) -> float:
    """Nearest-rank percentile; 0.0 for an empty list."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail(values: list[float], beyond: int = 10) -> dict:
    """The highest nearest-rank percentile with ``beyond`` samples past
    it, and the sample counts. With fewer than ``2 * beyond`` samples
    that percentile would lie below the median, so there is no tail:
    ``pct`` and ``value`` are None."""
    n = len(values)
    if n < 2 * beyond:
        return {"n": n, "pct": None, "value": None, "beyond": None}
    s = sorted(values)
    rank = n - beyond
    return {"n": n, "pct": 100 * rank / n, "value": s[rank - 1],
            "beyond": sum(x > s[rank - 1] for x in s)}


WORKLOADS = {w.name: w for w in (SpjDialect, CorpusBuild, VersionedUpsert,
                                 MediaDecode)}
