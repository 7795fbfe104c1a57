"""The three ingest workloads.

Each is a closed loop with one client: the next operation starts only
after the previous one, its read and its check have finished. Every run
does a fixed amount of work: ``WARMUP_OPS`` untimed operations, then
``timed_ops(seconds)`` timed ones.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from collections import Counter
from contextlib import nullcontext

import numpy as np

from check import ROW_TYPES, check_decode, check_stream, table_signature
from events import order_txns, base_load, select, trickle_txns
from oracle import Oracle
from rules import (
    COMMTX, IUD_TAGS, ORDERS_DDL, ORDERS_TABID, PAYMENTS_DDL, PAYMENTS_TABID,
    TAG_NAMES, Rules,
)
import spans
import typed
import wire

#: untimed operations before the timed ones: the JVM and the Python
#: workers warm up over the first few operations. A decode pass is
#: short, so two warm-up passes take its steep part; the trickle's base
#: load already runs every path of its batches once.
WARMUP_OPS = {"capture_decode": 2, "stream_backfill": 1, "binlog_trickle": 0}

#: capture_decode: order transactions in the archive (one payment each),
#: split over DECODE_FILES capture files
DECODE_KEYS = 8_000
DECODE_FILES = 8
#: stream_backfill: order transactions per arrival file
BACKFILL_KEYS_PER_FILE = 24_000
#: binlog_trickle: base table sizes, base capture files, and trickle
#: transactions per arrival file
TRICKLE_ORDERS = 40_000
TRICKLE_PAYMENTS = 10_000
TRICKLE_BASE_FILES = 4
TRICKLE_TXNS_PER_FILE = 60

#: nominal seconds of one timed operation, with its read and check, on
#: a 4-core host: it turns --seconds into a fixed operation count, never
#: into a time budget
NOMINAL_OP_S = 3
MIN_TIMED_OPS = 3

TABLES = {"orders": (ORDERS_TABID, ORDERS_DDL, "o_orderkey"),
          "payments": (PAYMENTS_TABID, PAYMENTS_DDL, "p_paykey")}


def timed_ops(seconds: int) -> int:
    return max(MIN_TIMED_OPS, round(seconds / NOMINAL_OP_S))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """State of one benchmark run: inputs, timings, checks, spans."""

    def __init__(self, workload, seed, seconds, traced, work, t_start,
                 selftest=False):
        self.workload = workload
        self.seed = seed
        # the checker self-test needs one checked operation, no timing
        self.n_timed = 1 if selftest else timed_ops(seconds)
        self.n_warmup = 0 if selftest else WARMUP_OPS[workload]
        self.work = work
        self.t_start = t_start
        self.rules = Rules(seed)
        self.tracer = spans.Tracer(traced)
        self.traced = traced
        self.excluded_s = 0.0  # input generation and oracle time
        self.phase: dict[str, float] = {}
        self.ops: list[dict] = []  # timed operations
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []  # operations that raised
        self.mismatches: list[str] = []  # outputs that failed a check
        self.layer: dict[str, float] = {}
        self.store_calls = Counter()
        self.spark = None
        self.jobs = None
        #: (kind, checker arguments) of the last checked operation, for
        #: the checker self-test
        self.last = None

    # -- set-up ---------------------------------------------------------------
    def excluded(self, fn, *a):
        t = time.perf_counter()
        out = fn(*a)
        self.excluded_s += time.perf_counter() - t
        return out

    def start_session(self):
        from informixcdc_spark.session import get_spark
        from informixcdc_spark.sources.binlog import register_binlog_source

        t = time.perf_counter()
        self.spark = get_spark(
            app_name="ingestbench",
            cpus=len(os.sched_getaffinity(0)),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # no hsperfdata file under /tmp: all scratch stays in
                # the run's directory
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                    "-XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(self.work, "wh"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jobs = spans.JobCounter(self.spark.sparkContext)
        register_binlog_source(self.spark)
        self.phase["session.start_s"] = time.perf_counter() - t

    def store_cls(self):
        from informixcdc_spark.streaming.statestore import PosixStateStore

        if not self.traced:
            return PosixStateStore
        return spans.counting_store(self.tracer, self.store_calls)

    def trace_pipeline(self):
        """Wrap the materializers' batch entry points (tracing only)."""
        from informixcdc_spark.streaming.pipeline import (
            Materializer, MultiTableMaterializer,
        )

        self.tracer.wrap(Materializer, "process_batch", "pipeline.table")
        self.tracer.wrap(MultiTableMaterializer, "process_batch",
                         "pipeline.multi")

    # -- operations -----------------------------------------------------------
    def op(self, i: int, fn) -> None:
        """Run operation ``i`` (negative = warm-up) of the closed loop."""
        self.attempted += 1
        if i == 0:
            self.phase["first_op_t"] = time.perf_counter()
            print(f"ingestbench: inputs and oracle {self.excluded_s:.3f} s, "
                  f"session {self.phase['session.start_s']:.3f} s",
                  file=sys.stderr)
        with self.tracer.span("op", op=i):
            try:
                rec = fn()
            except Exception as e:  # the loop goes on; the op counts failed
                import traceback

                traceback.print_exc()
                self.failed += 1
                self.errors.append(f"op {i}: {type(e).__name__}: {e}")
                return
        self.mismatches += [f"op {i}: {m}" for m in rec["mismatch"]]
        print(f"ingestbench: op {i}: latency {rec['latency_s']:.3f} s, "
              f"read {rec['read_s']:.3f} s", file=sys.stderr)
        if i >= 0:
            self.ops.append(rec)

    # -- results --------------------------------------------------------------
    def end_to_end(self) -> dict:
        """Every end-to-end metric, from the timed operations. Per
        operation, ``records`` are the change records it decoded or
        landed, ``row_records`` the row images it committed, ``bytes``
        the state it wrote and ``read_s`` the consumer's read after it."""
        ops = self.ops
        setup = (self.phase["first_op_t"] - self.t_start) - self.excluded_s
        lat = [o["latency_s"] for o in ops]
        return {
            "setup_s": (setup, "s"),
            "decode_records_per_s": (_median(
                [o["records"] / o["latency_s"] for o in ops]), "records/s"),
            "ingest_records_per_s": (_median(
                [o["row_records"] / o["latency_s"] for o in ops]),
                "records/s"),
            "commit_latency_ms": (_median(lat) * 1e3, "ms"),
            "state_bytes_per_record": (
                sum(o["bytes"] for o in ops)
                / max(1, sum(o["row_records"] for o in ops)), "bytes"),
            "table_read_ms": (_median([o["read_s"] for o in ops]) * 1e3, "ms"),
        }


# ---------------------------------------------------------------------------
# capture_decode
# ---------------------------------------------------------------------------
def capture_decode(run: Run) -> None:
    from pyspark.sql import functions as F

    from informixcdc_spark.cdc.binary import decode_envelope_df
    from informixcdc_spark.cdc.typemap import parse_ddl
    from informixcdc_spark.sources.changelog import write_changelog

    r = run.rules
    cap = os.path.join(run.work, "capture")
    ev = run.excluded(order_txns, r, 1, DECODE_KEYS,
                      -(-DECODE_KEYS // DECODE_FILES), True)
    run.excluded(wire.write_capture, r, ev, cap, "a")
    n_records = len(ev["seq"]) + 2 * DECODE_FILES  # + the TABSCHEM heads
    oracle = Oracle(r)
    want = run.excluded(oracle.decode_census, DECODE_KEYS)
    oracle.close()
    written = Counter(TAG_NAMES[int(t)] for t in ev["tag"])
    written["TABSCHEM"] = 2 * DECODE_FILES
    n_rows = int(sum(written[TAG_NAMES[t]] for t in IUD_TAGS))

    run.start_session()
    t = time.perf_counter()
    spark = run.spark
    cols = {tab: parse_ddl(ddl) for tab, (_, ddl, _) in TABLES.items()}
    out = os.path.join(run.work, "typed")
    run.phase["setup.base_load_s"] = 0.0  # no base table

    def one_pass(i):
        group = f"decode-{i}"
        with run.jobs.group(group) if run.traced else nullcontext():
            t0 = time.perf_counter()
            with run.tracer.span("binlog.read"):
                env = (spark.read.format("cdc-binlog").option("path", cap)
                       .load().localCheckpoint(eager=True))
            for tab, (tabid, _, _) in TABLES.items():
                sub = env.where((F.col("tabid") == tabid)
                                | F.col("tabid").isNull())
                with run.tracer.span("binary.decode_write", table=tab):
                    write_changelog(
                        decode_envelope_df(sub, {tabid: cols[tab]}, tabid, tab),
                        os.path.join(out, tab), n_files=DECODE_FILES,
                        mode="overwrite")
            latency = time.perf_counter() - t0
        n_tabschem = env.where("record_type = 'TABSCHEM'").count()
        t1 = time.perf_counter()
        with run.tracer.span("consumer.read"):
            logs = {tab: spark.read.parquet(os.path.join(out, tab))
                    for tab in TABLES}
            mismatch = check_decode(want, dict(written), logs, n_tabschem)
        read_s = time.perf_counter() - t1
        rec = {"records": n_records, "latency_s": latency, "read_s": read_s,
               "bytes": spans.dir_bytes(out), "row_records": n_rows,
               "mismatch": mismatch, "files": sum(
                   len(df.inputFiles()) for df in logs.values())}
        if run.traced:
            rec["jobs"] = run.jobs.count(group)
        run.last = ("decode", (want, dict(written), logs, n_tabschem))
        return rec

    for i in range(-run.n_warmup, run.n_timed):
        if i == 0:
            run.phase["setup.warmup_s"] = (
                time.perf_counter() - t - run.phase["setup.base_load_s"])
        run.op(i, lambda i=i: one_pass(i))

    if run.traced:
        run.layer["decode.spark_jobs_per_pass"] = _median(
            [o["jobs"] for o in run.ops])
        decode_probes(run, cap, n_records, n_rows,
                      os.path.join(cap, "a0000.bin"))
        parts = sorted(f for f in os.listdir(os.path.join(out, "orders"))
                       if f.endswith(".parquet"))[:2]
        stream_probe(run, [os.path.join(out, "orders", f) for f in parts])


def decode_probes(run: Run, cap: str, n_records: int, n_rows: int,
                  one_file: str) -> None:
    """Layer rates of the decode path over the capture files in ``cap``
    (median of three passes each), and of the scalar codec over one
    file without Spark."""
    from pyspark.sql import functions as F

    from informixcdc_spark.cdc.binary import (
        decode_envelope_df, decode_record, decode_row_image, split_stream,
    )
    from informixcdc_spark.cdc.model import CHANGE_HEADER_SZ, ENVELOPE_SZ
    from informixcdc_spark.cdc.typemap import parse_ddl

    spark = run.spark
    env_t, dec_t = [], []
    with run.jobs.group("probe-decode"):
        for _ in range(3):
            t = time.perf_counter()
            with run.tracer.span("probe.envelope"):
                (spark.read.format("cdc-binlog").option("path", cap).load()
                 .write.format("noop").mode("overwrite").save())
            env_t.append(time.perf_counter() - t)
    for _ in range(3):
        env = (spark.read.format("cdc-binlog").option("path", cap).load()
               .localCheckpoint(eager=True))
        t = time.perf_counter()
        with run.tracer.span("probe.row_decode"):
            for tab, (tabid, ddl, _) in TABLES.items():
                sub = env.where((F.col("tabid") == tabid)
                                | F.col("tabid").isNull())
                (decode_envelope_df(sub, {tabid: parse_ddl(ddl)}, tabid, tab)
                 .write.format("noop").mode("overwrite").save())
        dec_t.append(time.perf_counter() - t)
    run.layer["binlog.envelope_records_per_s"] = n_records / _median(env_t)
    run.layer["binary.row_decode_records_per_s"] = n_rows / _median(dec_t)
    if "decode.spark_jobs_per_pass" not in run.layer:
        run.layer["decode.spark_jobs_per_pass"] = (
            run.jobs.count("probe-decode") / 3)

    registry = {tabid: parse_ddl(ddl) for tabid, ddl, _ in TABLES.values()}
    with open(one_file, "rb") as fh:
        buf = fh.read()
    t = time.perf_counter()
    n = 0
    with run.tracer.span("probe.scalar"):
        for rec in split_stream(buf, strict=True):
            d = decode_record(rec)
            if d["record_type"] in ROW_TYPES:
                decode_row_image(registry[d["tabid"]], rec,
                                 ENVELOPE_SZ + CHANGE_HEADER_SZ)
            n += 1
    run.layer["binary.scalar_records_per_s"] = n / (time.perf_counter() - t)


# ---------------------------------------------------------------------------
# streams: shared landing / waiting / checking
# ---------------------------------------------------------------------------
def _wait_committed(query, mats, batch_id: int, timeout_s: float = 120.0):
    """Poll the state pointers until every materializer names
    ``batch_id`` (or a later batch)."""
    deadline = time.perf_counter() + timeout_s
    while True:
        if all(m.read_state()["batch_id"] >= batch_id for m in mats):
            return
        exc = query.exception()
        if exc is not None:
            raise RuntimeError(f"stream failed: {exc}")
        if time.perf_counter() > deadline:
            raise TimeoutError(f"batch {batch_id} not committed")
        time.sleep(0.005)


def _land(src: str, dst: str) -> None:
    os.rename(src, dst)  # atomic: the source never sees a partial file


def _check_state(run: Run, mats: dict, want: dict | None):
    """Read every table (timed: the consumer's full read), then check
    tables, pending census, open transactions and conservation against
    ``want`` (None: read only)."""
    t = time.perf_counter()
    with run.tracer.span("consumer.read"):
        targets = {tab: m.read_target() for tab, m in mats.items()}
        got = {tab: table_signature(tab, df) for tab, df in targets.items()}
    read_s = time.perf_counter() - t
    files = sum(len(df.inputFiles()) for df in targets.values()
                if df is not None)
    if want is None:
        return [], read_s, files
    pendings = {tab: m.read_pending() for tab, m in mats.items()}
    open_txns = {tab: len(m.read_state().get("open_txids", []))
                 for tab, m in mats.items()}
    run.last = ("stream", (want, targets, pendings, open_txns))
    return check_stream(want, got, pendings, open_txns), read_s, files


def _batch_bytes(mats: dict, batch_id: int) -> int:
    return sum(spans.dir_bytes(m.store.path("target", f"b{batch_id}"),
                               m.store.path("pending", f"v{batch_id}"))
               for m in mats.values())


def _stream_op(run, query, mats, src, dst, batch_id, want, records,
               row_records):
    """Land one arrival file, wait for its commit, read and check."""
    group = str(query.runId)
    jobs0 = run.jobs.count(group) if run.traced else 0
    calls0 = Counter(run.store_calls)
    t0 = time.perf_counter()
    _land(src, dst)
    with run.tracer.span("stream.commit_wait", batch=batch_id):
        _wait_committed(query, mats.values(), batch_id)
    latency = time.perf_counter() - t0
    rec = {"records": records, "row_records": row_records,
           "latency_s": latency, "batch": batch_id,
           "bytes": _batch_bytes(mats, batch_id)}
    if run.traced:
        rec["jobs"] = run.jobs.count(group) - jobs0
        rec["calls"] = run.store_calls - calls0
        rec["buckets"] = sum(
            sum(1 for d in m.store.listdir("target", f"b{batch_id}")
                if d.startswith("k=")) for m in mats.values())
    rec["mismatch"], rec["read_s"], rec["files"] = _check_state(
        run, mats, want)
    if run.traced:
        rec["pending_rows"] = sum(
            m.read_pending().count() if m.read_pending() is not None else 0
            for m in mats.values())
    return rec


def _committed_rows(ev: dict, n_files: int) -> list[int]:
    """Per arrival file: row images of the transactions whose COMMTX is
    in that file."""
    iud = np.isin(ev["tag"], IUD_TAGS)
    out = []
    for fi in range(n_files):
        done = ev["txid"][(ev["file"] == fi) & (ev["tag"] == COMMTX)]
        out.append(int((iud & np.isin(ev["txid"], done)).sum()))
    return out


def stream_layers(run: Run, t_from: float) -> None:
    """Per-layer pipeline metrics from the spans of the timed batches."""
    ops = run.ops
    batch_spans = run.tracer.durations(
        "pipeline.multi" if run.workload == "binlog_trickle"
        else "pipeline.table")
    table_spans = [s for s in run.tracer.spans
                   if s["name"] == "pipeline.table" and s["start"] >= t_from]
    pb = batch_spans[-len(ops):]
    run.layer["pipeline.process_batch_ms"] = _median(pb) * 1e3
    run.layer["pipeline.spark_jobs_per_batch"] = _median(
        [o["jobs"] for o in ops])
    run.layer["stream.trigger_overhead_ms"] = _median(
        [o["latency_s"] - b for o, b in zip(ops, pb)]) * 1e3
    run.layer["pipeline.buckets_rewritten_per_batch"] = _median(
        [o["buckets"] for o in ops])
    run.layer["pipeline.state_bytes_written_per_batch"] = _median(
        [o["bytes"] for o in ops])
    run.layer["pipeline.pending_rows"] = _median(
        [o["pending_rows"] for o in ops])
    run.layer["pipeline.tables_run_per_batch"] = len(table_spans) / len(ops)
    commits = [s for s in run.tracer.spans
               if s["name"] == "statestore.commit" and s["start"] >= t_from]
    run.layer["statestore.commit_ms"] = _median(
        [s["end"] - s["start"] for s in commits]) * 1e3
    for kind in ("read", "list", "write", "delete"):
        run.layer[f"statestore.{kind}_calls_per_batch"] = _median(
            [o["calls"][kind] for o in ops])
    run.layer["consumer.table_files"] = _median([o["files"] for o in ops])


# ---------------------------------------------------------------------------
# stream_backfill
# ---------------------------------------------------------------------------
def stream_backfill(run: Run) -> None:
    r = run.rules
    n_files = run.n_warmup + run.n_timed
    k = BACKFILL_KEYS_PER_FILE
    stage = os.path.join(run.work, "stage")
    os.makedirs(stage)
    ev = run.excluded(order_txns, r, 1, k * n_files, k, False)
    names = []
    for j in range(n_files):
        names.append(f"f{j:04d}.parquet")
        run.excluded(typed.write_orders, r, select(ev, ev["file"] == j),
                     os.path.join(stage, names[-1]))
    oracle = Oracle(r)
    wants = [run.excluded(oracle.backfill_state, 1, k * (j + 1))
             for j in range(n_files)]
    oracle.close()
    records = [int((ev["file"] == j).sum()) for j in range(n_files)]
    rows = run.excluded(_committed_rows, ev, n_files)

    run.start_session()
    run.trace_pipeline()
    t = time.perf_counter()
    query, mats = _start_backfill(run, os.path.join(run.work, "bf"))
    run.phase["setup.base_load_s"] = time.perf_counter() - t
    src = os.path.join(run.work, "bf", "src")
    try:
        for j in range(n_files):
            i = j - run.n_warmup
            if i == 0:
                run.phase["setup.warmup_s"] = (
                    time.perf_counter() - t - run.phase["setup.base_load_s"])
                t_timed = time.perf_counter()
            run.op(i, lambda j=j: _stream_op(
                run, query, mats, os.path.join(stage, names[j]),
                os.path.join(src, names[j]), j, wants[j], records[j],
                rows[j]))
    finally:
        query.stop()
    if run.traced:
        stream_layers(run, t_timed)
        probe = os.path.join(run.work, "probe-cap")
        sample = select(ev, ev["file"] == 0)
        sample["file"] = sample["seq"] % 4  # four files, one per core
        wire.write_capture(r, sample, probe, "p")
        decode_probes(run, probe, len(sample["seq"]) + 8,
                      int(np.isin(sample["tag"], IUD_TAGS).sum()),
                      os.path.join(probe, "p0000.bin"))


def _start_backfill(run: Run, root: str):
    from pyspark.sql.types import _parse_datatype_string

    from informixcdc_spark.streaming.pipeline import CdcEngine

    src = os.path.join(root, "src")
    os.makedirs(src)
    engine = CdcEngine(run.spark)
    engine.connect(src)
    query, mat = engine.materialize(
        _parse_datatype_string(typed.ROW_DDL), ["o_orderkey"],
        os.path.join(root, "state"), os.path.join(root, "ckpt"),
        available_now=False, store_cls=run.store_cls())
    return query, {"orders": mat}


def stream_probe(run: Run, files: list[str]) -> None:
    """Per-layer pipeline metrics for a workload whose own operations
    run no stream: land ``files`` (typed orders logs, already checked by
    the operations that wrote them) one at a time into a fresh
    ``CdcEngine.materialize`` and trace the batches."""
    root = os.path.join(run.work, "probe-stream")
    run.trace_pipeline()
    query, mats = _start_backfill(run, root)
    saved, run.ops = run.ops, []
    t_from = time.perf_counter()
    try:
        for j, f in enumerate(files):
            df = run.spark.read.parquet(f)
            rows = df.where("record_type IN ('INSERT', 'DELETE', 'UPDBEF', "
                            "'UPDAFT')").count()
            run.ops.append(_stream_op(
                run, query, mats, f,
                os.path.join(root, "src", f"p{j:04d}.parquet"), j, None,
                df.count(), rows))
        stream_layers(run, t_from)
    finally:
        query.stop()
        run.ops = saved


# ---------------------------------------------------------------------------
# binlog_trickle
# ---------------------------------------------------------------------------
def binlog_trickle(run: Run) -> None:
    from informixcdc_spark.cdc.typemap import parse_ddl
    from informixcdc_spark.streaming.pipeline import MultiTableMaterializer

    r = run.rules
    n_files = run.n_warmup + run.n_timed
    x = TRICKLE_TXNS_PER_FILE
    cap = os.path.join(run.work, "cap")
    stage = os.path.join(run.work, "stage")
    base = run.excluded(base_load, r, TRICKLE_ORDERS, TRICKLE_PAYMENTS,
                        TRICKLE_BASE_FILES, 10_000)
    run.excluded(wire.write_capture, r, base, cap, "b")
    ev = run.excluded(trickle_txns, r, TRICKLE_ORDERS, TRICKLE_PAYMENTS,
                      n_files, x)
    run.excluded(wire.write_capture, r, ev, stage, "t")
    oracle = Oracle(r)
    wants = run.excluded(oracle.trickle_states, TRICKLE_ORDERS,
                         TRICKLE_PAYMENTS, x, n_files)
    oracle.close()
    records = [int((ev["file"] == j).sum()) + 2 for j in range(n_files)]
    rows = run.excluded(_committed_rows, ev, n_files)

    run.start_session()
    run.trace_pipeline()
    t = time.perf_counter()
    tables = {tab: (tabid, parse_ddl(ddl), [key])
              for tab, (tabid, ddl, key) in TABLES.items()}
    mt = MultiTableMaterializer(run.spark, os.path.join(run.work, "state"),
                                tables, store_cls=run.store_cls())
    query = (run.spark.readStream.format("cdc-binlog").option("path", cap)
             .load().writeStream.foreachBatch(mt.process_batch)
             .option("checkpointLocation", os.path.join(run.work, "ckpt"))
             .start())
    try:
        with run.tracer.span("setup.base_load"):
            _wait_committed(query, mt.mats.values(), 0, timeout_s=150)
        run.phase["setup.base_load_s"] = time.perf_counter() - t
        for j in range(n_files):
            i = j - run.n_warmup
            if i == 0:
                run.phase["setup.warmup_s"] = (
                    time.perf_counter() - t - run.phase["setup.base_load_s"])
                t_timed = time.perf_counter()
            name = f"t{j:04d}.bin"
            run.op(i, lambda j=j, name=name: _stream_op(
                run, query, mt.mats, os.path.join(stage, name),
                os.path.join(cap, name), j + 1, wants[j + 1], records[j],
                rows[j]))
    finally:
        query.stop()
    if run.traced:
        stream_layers(run, t_timed)
        probe = os.path.join(run.work, "probe-cap")
        os.makedirs(probe)
        for j in range(n_files):
            os.link(os.path.join(cap, f"t{j:04d}.bin"),
                    os.path.join(probe, f"t{j:04d}.bin"))
        decode_probes(run, probe, sum(records),
                      int(np.isin(ev["tag"], IUD_TAGS).sum()),
                      os.path.join(probe, "t0000.bin"))


WORKLOADS = {
    "capture_decode": capture_decode,
    "stream_backfill": stream_backfill,
    "binlog_trickle": binlog_trickle,
}
