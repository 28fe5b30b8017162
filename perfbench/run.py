"""Benchmark of the order-event analytics engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (inputs are generated from ``--seed``; NOTES.md says why each
exists and which layers it stresses):

- ``order_analytics``: 16 registry queries over orders, line items and
  events (reference-parity aggregates, validation/DLQ, OLAP joins,
  windows); the seed shuffles the op order of every pass.
- ``corpus_dedup``: 7 registry queries over documents and embeddings
  (near-dup and exact dedup, simhash, tf-idf, token stats, cosine top-k).
- ``order_stream``: the reference consumer as a closed-loop drain of a
  JSON-wire order backlog through ``start_order_pipeline`` (valid, DLQ
  and aggregated sinks, retry envelope), then the aggregated snapshot
  and the DLQ error stats.

An op is one registry call fetched with ``toPandas()`` or one stream
drain.  Every op result is verified against DuckDB after the timed
phase; an op that raises or returns a wrong result counts as failed.
The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the per-layer metrics of a traced run,
whose per-layer table goes to stderr and whose spans are written to
``.perfbench/traces/``.  The run's scratch files live under
``.perfbench/`` in the checkout and are removed before it exits.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import sys
import time
from datetime import datetime
from pathlib import Path

import probes

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
OUT_DIR = REPO / ".perfbench"

ORDER_ANALYTICS_OPS = (
    "per_product_stats product_stats_snapshot overall_stats purchase_avg_lookup "
    "running_avg validated_orders rejected_orders dlq_error_stats pricing_summary "
    "top_customers revenue_by_region priority_line_revenue events_hourly "
    "user_sessions top3_events_per_type asof_purchase_click"
).split()
CORPUS_DEDUP_OPS = (
    "near_dup_pairs simhash_fingerprints dedup_exact tfidf_top_terms "
    "token_counts_top20 doc_token_stats embedding_topk"
).split()
BATCH_OPS = {"order_analytics": ORDER_ANALYTICS_OPS, "corpus_dedup": CORPUS_DEDUP_OPS}
# Scale factors of the generated tables (sf 0.1 = 150k orders, 600k line
# items, 100k events, 5k documents, 2k embeddings).  Fixed per-query cost
# dominates both workloads, so they are sized to fit passes into a run.
BATCH_SF = {"order_analytics": 0.02, "corpus_dedup": 0.05}
STREAM_PHASES = ("drain", "snapshot", "error_stats")
STREAM_FILES = 3  # per backlog (timed, and a separate one for warm-up); one micro-batch per file
STREAM_FILE_ORDERS = 10_000
WORKLOADS = ("order_analytics", "corpus_dedup", "order_stream")
DEADLINE_S = 170
WIRE_SCHEMA = "key string, value string"


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q: float) -> float:
    """q-th percentile (0-100), linear interpolation between samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = (len(s) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def _geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def _files_bytes(*dirs: Path) -> tuple[int, int]:
    n = size = 0
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in files:
                if not f.startswith((".", "_")):
                    n += 1
                    size += os.path.getsize(os.path.join(root, f))
    return n, size


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _damage(pdf):
    """A wrong result: one row fewer (or a changed cell for one row)."""
    if len(pdf) > 1:
        return pdf.iloc[:-1]
    return pdf.assign(**{pdf.columns[0]: "damaged"})


class _Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise _Deadline(f"run exceeded {DEADLINE_S} s")


# ---------------------------------------------------------------------------
# Engine session
# ---------------------------------------------------------------------------

def isolate(scratch: Path) -> None:
    """Keep every file the run writes under ``scratch`` and give Spark's
    Python workers the checkout on their import path."""
    import tempfile

    tmp = scratch / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    # every JVM the launcher starts: no perf-data files, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def import_engine() -> None:
    """Import the engine from this checkout, never from elsewhere."""
    if str(REPO) not in sys.path:
        sys.path.insert(0, str(REPO))
    import kafka_avro_order_processing_spark as pkg

    if Path(pkg.__file__).resolve().parent.parent != REPO:
        raise SystemExit(f"engine imported from {pkg.__file__}, not from {REPO}")


class Session:
    """One local Spark session sized to this host's CPUs."""

    def __init__(self, scratch: Path) -> None:
        from kafka_avro_order_processing_spark import get_spark

        ncpu = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{ncpu}]",
            shuffle_partitions=ncpu,
            driver_memory="2g",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(scratch / "warehouse"),
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        self.start_s = time.perf_counter() - t0

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def stop(self) -> None:
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
            gateway.shutdown()
        finally:  # never leave the JVM behind, even if the gateway broke
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait()


# ---------------------------------------------------------------------------
# Batch workloads
# ---------------------------------------------------------------------------

class BatchRun:
    """Passes over the workload's registry queries."""

    def __init__(self, args, sess: Session, scratch: Path) -> None:
        import datagen
        from kafka_avro_order_processing_spark.plans.registry import QUERIES
        from oracle import tables_read

        self.args, self.sess, self.spark = args, sess, sess.spark
        self.queries = QUERIES
        self.ops = list(BATCH_OPS[args.workload])
        self.tables = {op: tables_read(QUERIES[op].oracle) for op in self.ops}
        self.data = str(scratch / "data")

        t0 = time.perf_counter()
        frames = datagen.tables(args.seed, BATCH_SF[args.workload])
        datagen.write_tables(frames, Path(self.data))
        self.gen_s = time.perf_counter() - t0
        del frames

        t0 = time.perf_counter()
        for op in self.ops:  # warm-up pass: JIT, codegen, page cache
            self.queries[op].fn(self.spark, self.data).toPandas()
            self.spark.catalog.clearCache()
        self.warm_s = time.perf_counter() - t0

        self.rng = random.Random(args.seed)
        self.walls: dict[str, list[float]] = {op: [] for op in self.ops}
        self.results: dict[str, list] = {op: [] for op in self.ops}
        self.pass_walls: list[float] = []
        self.calib: list[float] = []
        self.traced: list[dict] = []  # per traced pass: layer sums
        self.traced_ops: dict[str, list[dict]] = {}

    def _order(self) -> list[str]:
        order = list(self.ops)
        self.rng.shuffle(order)
        return order

    def _timed_op(self, op: str) -> float:
        """Build, execute and fetch one op; its wall time (0 if it raised)."""
        t0 = time.perf_counter()
        try:
            pdf = self.queries[op].fn(self.spark, self.data).toPandas()
        except Exception as exc:  # noqa: BLE001 — a failing op is counted, not fatal
            self.results[op].append(exc)
            self.spark.catalog.clearCache()
            return 0.0
        wall = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        self.walls[op].append(wall)
        self.results[op].append(pdf)
        return wall

    def timed_pass(self) -> None:
        """Each op once, in seeded order."""
        self.pass_walls.append(sum(self._timed_op(op) for op in self._order()))
        self.calib.append(probes.calib_ms())

    def traced_pass(self, tracer: probes.Tracer, probe: probes.SparkProbe) -> None:
        """Each op once with its layers timed apart: tables loaded, plan
        built, fetched, then executed again into a ``noop`` sink.  Transfer
        is the fetch minus that execution."""
        from kafka_avro_order_processing_spark.sources.tables import load_table

        acc = dict.fromkeys((
            "sources.load_table_ms", "sources.scan_rows", "plans.build_ms", "plans.eager_jobs",
            "plans.leaked_cached", "catalyst.plan_ms", "sched.jobs", "sched.stages",
            "sched.tasks", "exec.ms", "exec.cpu_ms", "exec.jvm_gc_ms", "exec.shuffle_bytes",
            "exec.spill_bytes", "transfer.ms", "transfer.rows", "wall_without_exec_s"), 0.0)
        n = len(self.traced)
        with tracer.span("pass", index=n):
            for op in self._order():
                with tracer.span("sources.load_table", op=op) as sp:
                    for t in self.tables[op]:
                        load_table(self.spark, self.data, t)
                acc["sources.load_table_ms"] += (time.perf_counter() - sp["start"]) * 1000
                g = f"perfbench-{n}-{op}"
                try:
                    with tracer.span("op", op=op) as op_span:
                        with probe.group(g + "-build"), tracer.span("build") as b_span:
                            df = self.queries[op].fn(self.spark, self.data)
                        # Fetch before the noop execution: whichever runs
                        # second finds the query's generated code compiled.
                        # Each group's job-id snapshots sit outside its span.
                        with probe.group(g + "-xfer"), tracer.span("transfer") as t_span:
                            pdf = df.toPandas()
                        with probe.group(g + "-exec"), tracer.span("execute") as x_span:
                            _noop(df)
                except Exception as exc:  # noqa: BLE001 — counted as a failed op
                    self.results[op].append(exc)
                    self.spark.catalog.clearCache()
                    continue
                # Catalyst phases of the fetched query, each placed under
                # the span that was open when it started.
                offset = time.perf_counter() - time.time()
                plan_ms, phases = probe.catalyst(df)
                for phase, (s, e) in phases.items():
                    s, e = s + offset, e + offset
                    parent = next((p for p in (b_span, x_span, t_span)
                                   if p["start"] <= s <= p["end"]), op_span)
                    tracer.add(f"catalyst.{phase}", s, e, parent["id"])
                acc["catalyst.plan_ms"] += plan_ms
                acc["sources.scan_rows"] += probe.scan_rows(df)
                acc["plans.eager_jobs"] += len(probe.jobs(g + "-build"))
                acc["plans.leaked_cached"] += self.sess.persisted_rdds()
                self.spark.catalog.clearCache()
                sched = probe.group_stats([g + "-build", g + "-xfer"])
                work = probe.group_stats([g + "-exec"])
                dur = {k: (s["end"] - s["start"]) * 1000 for k, s in
                       (("build", b_span), ("execute", x_span), ("fetch", t_span), ("op", op_span))}
                rec = {"build": dur["build"], "execute": dur["execute"],
                       "transfer": dur["fetch"] - dur["execute"],
                       "jvm_gc": sched["gc_ms"]}
                self.traced_ops.setdefault(op, []).append(rec)
                self.results[op].append(pdf)
                acc["plans.build_ms"] += rec["build"]
                acc["exec.ms"] += rec["execute"]
                acc["transfer.ms"] += rec["transfer"]
                acc["transfer.rows"] += len(pdf)
                acc["wall_without_exec_s"] += (dur["op"] - dur["execute"]) / 1000
                for k in ("jobs", "stages", "tasks"):
                    acc[f"sched.{k}"] += sched[k]
                acc["exec.cpu_ms"] += work["cpu_ms"]
                acc["exec.jvm_gc_ms"] += work["gc_ms"]
                acc["exec.shuffle_bytes"] += work["shuffle_bytes"]
                acc["exec.spill_bytes"] += work["spill_bytes"]
        self.traced.append(acc)
        self.calib.append(probes.calib_ms())

    def verify(self) -> tuple[int, int]:
        """(attempted, failed) over every op execution after set-up.  The
        first result of an op is compared with the oracle in full; later
        ones by fingerprint against it, or in full if it was wrong."""
        from oracle import BatchOracle, canon, fingerprint

        corrupt_op, _, k = (self.args.corrupt or "").partition("@")
        oracle = BatchOracle(self.data)
        attempted = failed = 0
        try:
            for op in self.ops:
                runs = self.results[op]
                if op == corrupt_op and runs:
                    i = int(k or 0) % len(runs)
                    if not isinstance(runs[i], Exception):
                        runs[i] = _damage(runs[i])
                expected = oracle.expected(self.queries[op].oracle)
                ref = None
                for i, res in enumerate(runs):
                    attempted += 1
                    if isinstance(res, Exception):
                        ok, why = False, f"raised {res!r}"
                    elif ref is not None:
                        ok, why = fingerprint(res) == ref, "differs from the verified result"
                    else:
                        ok, why = canon(res) == expected, "differs from the oracle"
                        ref = fingerprint(res) if ok else None
                    if not ok:
                        failed += 1
                        print(f"[perfbench] {op} result {i}: {why}", file=sys.stderr)
        finally:
            oracle.close()
        return attempted, failed

    def end_to_end(self) -> dict:
        pass_s = _median(self.pass_walls)
        return {
            "pass_s": pass_s,
            "query_geomean_ms": _geomean([_median(w) * 1000 for w in self.walls.values()]),
        }

    def per_layer(self, tracer: probes.Tracer) -> dict:
        out = {k: _median([p[k] for p in self.traced]) for k in self.traced[0]}
        traced = out.pop("wall_without_exec_s")
        pass_s = _median(self.pass_walls)
        out["trace.overhead_pct"] = (traced - pass_s) / pass_s * 100 if pass_s else 0.0
        for op in self.ops:
            out[f"op_ms.{op}"] = _median(self.walls[op]) * 1000
        return out

    def op_table(self) -> list[str]:
        """Per-op reconciliation: traced build + execute + transfer (that
        is, build + fetch) against the untraced op walls of the run.  An
        op whose traced sum falls outside the untraced min..max is
        flagged: its layer figures do not describe the untraced program.
        ``fetch gc`` is JVM GC time inside the tasks of build and fetch."""
        lines = [f"{'op':24s} {'untraced min..max':>19s} {'build':>8s} {'execute':>8s}"
                 f" {'transfer':>9s} {'b+x+t':>8s} {'fetch gc':>8s}  reconciles"]
        off = []
        for op, recs in self.traced_ops.items():
            lo, hi = min(self.walls[op]) * 1000, max(self.walls[op]) * 1000
            b, x, t, g = (_median([r[k] for r in recs]) for k in ("build", "execute", "transfer", "jvm_gc"))
            ok = lo <= b + x + t <= hi
            if not ok:
                off.append(op)
            lines.append(f"{op:24s} {lo:9.1f}..{hi:8.1f} {b:8.1f} {x:8.1f} {t:9.1f}"
                         f" {b + x + t:8.1f} {g:8.0f}  {'yes' if ok else 'NO'}")
        if off:
            lines.append(f"NOT RECONCILED ({len(off)} of {len(self.traced_ops)} ops): "
                         f"{' '.join(off)}; the pass-level layer sums include these ops "
                         "and do not describe the untraced program")
        return lines


# ---------------------------------------------------------------------------
# Order stream workload
# ---------------------------------------------------------------------------

class StreamRun:
    """Closed-loop drains of one order backlog through the consumer."""

    def __init__(self, args, sess: Session, scratch: Path) -> None:
        self.args, self.sess, self.spark = args, sess, sess.spark
        self.scratch = scratch
        self.retries = 0
        self.backlog = str(scratch / "backlog")
        self.orders_ref = str(scratch / "orders_ref")

        t0 = time.perf_counter()
        n = STREAM_FILES * STREAM_FILE_ORDERS
        self._write_backlog(0, n, STREAM_FILES, self.backlog, self.orders_ref)
        warm = str(scratch / "warm_backlog")
        self._write_backlog(n, 2 * n, STREAM_FILES, warm, None)
        self.gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        self._drain(warm, scratch / "warm_drain")
        self.warm_s = time.perf_counter() - t0
        shutil.rmtree(scratch / "warm_drain", ignore_errors=True)

        self.drains: list[dict] = []
        self.traced_drains: list[dict] = []
        self.pass_walls: list[float] = []
        self.calib: list[float] = []

    def _write_backlog(self, lo: int, hi: int, files: int, out: str, ref: str | None) -> None:
        """Orders [lo, hi) as JSON wire rows in ``files`` equal parquet
        files (and, if ``ref``, the same orders before encoding).  About
        2% lack a product, 1.5% carry a price <= 0 and 1% have an
        undecodable payload."""
        from pyspark.sql import functions as F

        from kafka_avro_order_processing_spark.sources.generator import order_columns
        from kafka_avro_order_processing_spark.sources.serde import ORDER_COLS, orders_to_json

        seed = str(self.args.seed)
        gen = self.spark.range(lo, hi, 1, files).select("id", *order_columns(F.col("id"), seed))
        h = F.pmod(F.xxhash64(F.lit(seed), F.lit("invalid"), F.col("id")), F.lit(1000))
        orders = gen.select(
            "orderId",
            F.when(h < 20, F.lit(None).cast("string")).otherwise(F.col("product")).alias("product"),
            F.when(h.between(20, 29), -F.col("price")).when(h.between(30, 34), F.lit(0.0))
            .otherwise(F.col("price")).alias("price"),
            (F.lit(1_700_000_000_000) + F.col("id")).alias("timestamp"),
        )

        def corrupt(key):
            return F.pmod(F.xxhash64(F.lit(seed), F.lit("corrupt"), key), F.lit(100)) < 1

        wire = orders_to_json(orders.select(*ORDER_COLS))
        wire = wire.withColumn(
            "value", F.when(corrupt(F.col("key")), F.substring("value", 1, 9))
            .otherwise(F.col("value")))
        wire.write.parquet(out)
        if ref is not None:
            orders.withColumn("corrupt", corrupt(F.col("orderId"))).write.parquet(ref)

    def _counting_sleep(self, seconds: float) -> None:
        self.retries += 1

    def _drain(self, backlog: str, run_dir: Path) -> dict:
        """Run the consumer over ``backlog`` to completion, then fetch the
        aggregated snapshot and the DLQ error stats."""
        from pyspark.sql import functions as F

        from kafka_avro_order_processing_spark.operators.aggregate import error_stats
        from kafka_avro_order_processing_spark.sources.serde import orders_from_json
        from kafka_avro_order_processing_spark.streaming.pipeline import (
            read_aggregated_snapshot,
            start_order_pipeline,
        )
        from kafka_avro_order_processing_spark.streaming.retry import RetryHandler

        valid, dlq, agg, chk = (str(run_dir / p) for p in ("valid", "dlq", "agg", "chk"))
        t0 = time.perf_counter()
        src = (self.spark.readStream.schema(WIRE_SCHEMA)
               .option("maxFilesPerTrigger", 1).parquet(backlog))
        q = start_order_pipeline(
            orders_from_json(src), valid, dlq, chk,
            retry_handler=RetryHandler(sleep=self._counting_sleep),
            aggregated_sink=agg,
        )
        q.awaitTermination()
        t1 = time.perf_counter()
        snapshot = read_aggregated_snapshot(self.spark, agg).toPandas()
        t2 = time.perf_counter()
        errors = error_stats(
            self.spark.read.parquet(dlq), product=F.col("original_value.product")).toPandas()
        t3 = time.perf_counter()
        d = {"dir": run_dir, "start": t0, "drain": t1 - t0, "snapshot": t2 - t1,
             "error_stats": t3 - t2, "snapshot_pdf": snapshot, "errors_pdf": errors,
             "progress": [p for p in q.recentProgress if p["numInputRows"]],
             "persisted": self.sess.persisted_rdds()}
        self.spark.catalog.clearCache()
        return d

    def _timed_drain(self) -> dict | None:
        """One drain of the backlog; None (and a failed drain) if it raised."""
        try:
            d = self._drain(self.backlog, self.scratch / f"drain{len(self.drains)}")
        except Exception as exc:  # noqa: BLE001 — counted as a failed op
            self.drains.append({"error": exc})
            self.spark.catalog.clearCache()
            return None
        self.drains.append(d)
        self.calib.append(probes.calib_ms())
        return d

    def timed_pass(self) -> None:
        d = self._timed_drain()
        if d is not None:
            self.pass_walls.append(d["drain"] + d["snapshot"] + d["error_stats"])

    def traced_pass(self, tracer: probes.Tracer, probe: probes.SparkProbe) -> None:
        """A drain as spans: drain > epoch > addBatch, built from the
        query's progress reports, then the two fetches."""
        d = self._timed_drain()
        if d is None:
            return
        self.traced_drains.append(d)
        t0 = d["start"]
        sp = tracer.add("drain", t0, t0 + d["drain"], index=len(self.traced_drains) - 1)
        offset = time.perf_counter() - time.time()
        for p in d["progress"]:
            begin = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            begin += offset
            trig = p["durationMs"].get("triggerExecution", 0) / 1000
            add = p["durationMs"].get("addBatch", 0) / 1000
            ep = tracer.add("epoch", begin, begin + trig, sp["id"], batch=p["batchId"])
            tracer.add("addBatch", begin + trig - add, begin + trig, ep["id"])
        t1 = t0 + d["drain"]
        tracer.add("snapshot", t1, t1 + d["snapshot"])
        tracer.add("error_stats", t1 + d["snapshot"], t1 + d["snapshot"] + d["error_stats"])

    def verify(self) -> tuple[int, int]:
        """(attempted, failed) over every drain after set-up: valid and
        DLQ row counts equal the seeded counts, snapshot and error stats
        equal DuckDB's over the orders before encoding."""
        from oracle import canon, stream_expected

        corrupt_op, _, k = (self.args.corrupt or "").partition("@")
        self.expected = exp = stream_expected(self.orders_ref)
        attempted = failed = 0
        for i, d in enumerate(self.drains):
            attempted += 1
            if "error" in d:
                failed += 1
                print(f"[perfbench] drain {i}: raised {d['error']!r}", file=sys.stderr)
                continue
            snap = d["snapshot_pdf"]
            if corrupt_op == "snapshot" and i == int(k or 0) % len(self.drains):
                snap = _damage(snap)
            checks = {
                "valid rows": self.spark.read.parquet(str(d["dir"] / "valid")).count() == exp["valid"],
                "dlq rows": self.spark.read.parquet(str(d["dir"] / "dlq")).count() == exp["invalid"],
                "snapshot": canon(snap) == exp["snapshot"],
                "error stats": canon(d["errors_pdf"]) == exp["errors"],
            }
            bad = [name for name, ok in checks.items() if not ok]
            if bad:
                failed += 1
                print(f"[perfbench] drain {i}: wrong {', '.join(bad)}", file=sys.stderr)
        return attempted, failed

    def end_to_end(self) -> dict:
        pass_s = _median(self.pass_walls)
        return {
            "pass_s": pass_s,
            "query_geomean_ms": _geomean([_median([d[k] for d in self.drains if "error" not in d])
                                          * 1000 for k in STREAM_PHASES]),
        }

    def per_layer(self, tracer: probes.Tracer) -> dict:
        """Progress-report figures of the traced drains plus direct probes
        of each layer the epoch body calls."""
        from kafka_avro_order_processing_spark.operators.validate import split_valid_invalid
        from kafka_avro_order_processing_spark.sources.serde import orders_from_json
        from kafka_avro_order_processing_spark.streaming.pipeline import order_pipeline_batch

        drains = self.traced_drains
        epochs = [p for d in drains for p in d["progress"]]
        trig = [p["durationMs"].get("triggerExecution", 0) for p in epochs]
        add = [p["durationMs"].get("addBatch", 0) for p in epochs]
        last = drains[-1]["dir"]
        files, size = _files_bytes(last / "valid", last / "dlq", last / "agg")
        untraced = _median(self.pass_walls)
        traced = _median([d["drain"] + d["snapshot"] + d["error_stats"] for d in drains])
        out = {
            "stream.epochs": _median([len(d["progress"]) for d in drains]),
            "stream.trigger_p50_ms": _pct(trig, 50),
            "stream.trigger_p90_ms": _pct(trig, 90),
            "stream.add_batch_ms": _median(add),
            "stream.overhead_ms": _median([t - a for t, a in zip(trig, add)]),
            "stream.files_written": files,
            "stream.bytes_written": size,
            "aggregate.snapshot_ms": _median([d["snapshot"] * 1000 for d in drains]),
            "aggregate.error_stats_ms": _median([d["error_stats"] * 1000 for d in drains]),
            "aggregate.changelog_rows": self.spark.read.parquet(str(last / "agg")).count(),
            "plans.leaked_cached": _median([d["persisted"] for d in drains]),
            "retry.retries": self.retries,
            "trace.overhead_pct": (traced - untraced) / untraced * 100 if untraced else 0.0,
        }

        def wire(path=self.backlog):
            return self.spark.read.schema(WIRE_SCHEMA).parquet(path)

        def timed(name, fn):
            with tracer.span(name) as sp:
                fn()
            out[name] = (sp["end"] - sp["start"]) * 1000

        timed("sources.decode_ms", lambda: _noop(orders_from_json(wire())))
        valid, invalid = split_valid_invalid(orders_from_json(wire()))
        timed("validate.split_ms", lambda: (_noop(valid), _noop(invalid)))
        out["validate.valid_rows"], out["validate.dlq_rows"] = valid.count(), invalid.count()
        first = sorted(p for p in os.listdir(self.backlog) if p.endswith(".parquet"))[0]
        body = self.scratch / "body"
        timed("stream.body_ms", lambda: order_pipeline_batch(
            orders_from_json(wire(f"{self.backlog}/{first}")),
            str(body / "valid"), str(body / "dlq")))
        return out

    def probe_failures(self, values: dict) -> int:
        """The validation probe's counts must equal the seeded counts."""
        ok = (values["validate.valid_rows"] == self.expected["valid"]
              and values["validate.dlq_rows"] == self.expected["invalid"])
        if not ok:
            print("[perfbench] validation probe counts differ from the seeded counts",
                  file=sys.stderr)
        return 0 if ok else 1


# ---------------------------------------------------------------------------
# Run and report
# ---------------------------------------------------------------------------

def _spec() -> dict:
    with (REPO / "BENCHMARK.json").open() as f:
        return json.load(f)


def _layer_report(args, units: dict, values: dict, tracer: probes.Tracer, bench) -> str:
    import layers

    lines = [f"per-layer metrics: {args.workload}, seed {args.seed}",
             f"{'metric':34s} {'value':>14s} {'unit':8s}  should move -> on"]
    for name, unit in units.items():
        move, on = layers.expected(name)
        lines.append(f"{name:34s} {values.get(name, 0.0):14.3f} {unit:8s}  {move} -> {on}")
    self_ms: dict[str, float] = {}
    for s in tracer.spans:
        self_ms[s["name"]] = self_ms.get(s["name"], 0.0) + tracer.self_time(s) * 1000
    lines.append("span self time, ms summed over the traced passes:")
    lines += [f"  {k:30s} {v:12.1f}" for k, v in sorted(self_ms.items(), key=lambda kv: -kv[1])]
    if isinstance(bench, BatchRun):
        lines += bench.op_table()
    lines.append(f"tracing overhead: {values.get('trace.overhead_pct', 0.0):+.1f}% "
                 "of the untraced pass_s")
    return "\n".join(lines)


def run(args, scratch: Path) -> dict:
    t0 = time.perf_counter()
    import_engine()
    t_import = time.perf_counter() - t0
    sess = Session(scratch)
    try:
        bench = (StreamRun if args.workload == "order_stream" else BatchRun)(args, sess, scratch)
        setup_s = t_import + sess.start_s + bench.gen_s + bench.warm_s
        steal0, cpu0 = probes.steal_s(), probes.tree_cpu_s()
        tracer = probes.Tracer()
        probe = probes.SparkProbe(sess.spark) if args.trace else None
        t_begin = time.perf_counter()
        with tracer.span(args.workload, seed=args.seed):
            bench.timed_pass()
            while time.perf_counter() - t_begin < args.seconds or (args.trace and not tracer.spans[1:]):
                if args.trace:
                    # Traced passes sit between untraced ones, which are
                    # the base of the tracing overhead and reconciliation.
                    bench.traced_pass(tracer, probe)
                bench.timed_pass()
        steal1, cpu1 = probes.steal_s(), probes.tree_cpu_s()
        attempted, failed = bench.verify()
        host = {
            "session.start_s": sess.start_s,
            "session.peak_rss_mb": probes.tree_peak_rss_mb(),
            "host.calib_ms": _median(bench.calib),
            "host.steal_s": steal1 - steal0,
            "proc.cpu_s": cpu1 - cpu0,
        }
        print("[perfbench] " + json.dumps({k: round(v, 4) for k, v in host.items()}),
              file=sys.stderr)
        spec = _spec()
        if args.trace:
            values = bench.per_layer(tracer)
            if isinstance(bench, StreamRun):
                failed += bench.probe_failures(values)
            values.update(host)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            print(_layer_report(args, units, values, tracer, bench), file=sys.stderr)
            tracer.write(OUT_DIR / "traces" / f"{args.workload}-seed{args.seed}.jsonl")
        else:
            values = {"setup_s": setup_s, **bench.end_to_end()}
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}
    finally:
        sess.stop()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Order-event engine benchmark.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test only: damage the k-th result of an op ("op@k", k may be negative)
    ap.add_argument("--corrupt", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))  # clean up first
    signal.alarm(DEADLINE_S)
    scratch = OUT_DIR / f"run-{os.getpid()}"
    try:
        isolate(scratch)
        result = run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
