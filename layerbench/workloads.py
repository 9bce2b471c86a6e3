"""The workloads. Each drives the library only through its public
entry points, over parquet inputs written from the run's seed.

A workload has
- ``write_inputs(rng, path)``: numpy + pyarrow generation and parquet
  writes, and the expected answers of the checks (untimed);
- ``prepare(rep)``: the one-time work before the first op, such as opening
  the inputs or starting the streaming query. It is repeated from scratch
  and timed as ``setup_s``; the last repetition is the one the ops use;
- ``window_ops``: ``None`` to measure ops for ``--seconds``, or a fixed
  number of ops, so that every run measures the same ops;
- ``op(i)``: one timed op, checked afterwards (checks are not timed);
- a reader op: ``FilterTable`` load + ``where_member`` over a 2M-key probe
  set with 10% planted members, run after each op or, on
  ``stream_ingest``, in a thread beside the stream from the first
  published version on.
"""

from __future__ import annotations

import os
import pickle
import re
import shutil
import threading
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import inputs
from .trace import stage_counts

BITS_LIMIT = 9.1
MIN_WINDOW_OPS = 3
READER_PROBES = 2_000_000
PLANTED = READER_PROBES // 10
FPP_TARGET = 2.0 ** -8       # bfuse8: 0.39%
#: the target plus five standard errors of the non-planted sample (0.414%)
FPP_LIMIT = FPP_TARGET + 5 * (
    FPP_TARGET * (1 - FPP_TARGET) / (READER_PROBES - PLANTED)) ** 0.5


class OpFailed(Exception):
    """A correctness check failed."""


def _build_stats(rows) -> dict:
    """``build.*`` counters from a table's shard rows."""
    rows = list(rows)
    n_keys = sum(int(r["n_keys"]) for r in rows)
    secs = sum(float(r["build_secs"]) for r in rows)
    fp_bytes = sum(len(r["fingerprints"]) for r in rows)
    return {
        "build.kernel_s_sum": secs,
        "build.kernel_ns_per_key": secs * 1e9 / max(n_keys, 1),
        "build.peel_rounds_max": max((int(r["peel_rounds"]) for r in rows),
                                     default=0),
        "build.retries": sum(int(r["retries"]) for r in rows),
        "build.bits_per_entry": fp_bytes * 8.0 / max(n_keys, 1),
        "dataflow.build.n_shards": len(rows),
    }


class Workload:
    name = ""
    warmup_ops = 2
    window_ops: int | None = None

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.work = ctx.work
        self.reader_ops: list[dict] = []
        self.reader_failed = 0
        self._reader_dfs: dict[str, object] = {}

    # -- the reader op shared by every workload ------------------------------
    def _write_reader_probes(self, rng, members: np.ndarray,
                             name: str = "reader") -> None:
        table = inputs.make_probes(rng, members, READER_PROBES, PLANTED)
        inputs.write_parquet(table, os.path.join(self.work, name), 4)

    def reader_op(self, load, name: str = "reader") -> dict:
        """Load a filter table with ``load()`` and probe the reader set
        ``name``."""
        if name not in self._reader_dfs:
            self._reader_dfs[name] = self.spark.read.parquet(
                os.path.join(self.work, name))
        t = self.tracer
        with t.op() as op:
            with t.span("load"):
                table = load()
            with t.span("probe"):
                got = (table.where_member(self._reader_dfs[name])
                       .groupBy("planted").count().collect())
        counts = {bool(r["planted"]): int(r["count"]) for r in got}
        if counts.get(True, 0) != PLANTED:
            raise OpFailed(f"{PLANTED - counts.get(True, 0)} planted members "
                           f"rejected (false negatives)")
        fpp = counts.get(False, 0) / (READER_PROBES - PLANTED)
        if fpp >= FPP_LIMIT:
            raise OpFailed(f"measured FPP {fpp:.5f} >= {FPP_LIMIT:.5f}")
        rec = {"t0": op.t0, "t1": op.t1, "op_s": op.wall, "fpp": fpp}
        if t.enabled:
            t.collect(op)
            c = stage_counts(op, self.ctx.cores)
            c["dataflow.probe.accept_ratio"] = (
                sum(counts.values()) / READER_PROBES)
            c["dataflow.probe.broadcast_bytes"] = len(pickle.dumps(
                (table.rows, table.n_shards),
                protocol=pickle.HIGHEST_PROTOCOL))
            c["dataflow.probe.contains_ns_per_key"] = (
                c.pop("probe_py_ms") * 1e6
                / max(c["dataflow.probe.feed_rows"], 1))
            rec["layers"], rec["counts"] = op.layers(), c
        return rec

    # -- the per-workload parts ----------------------------------------------
    def write_inputs(self, rng, path: str) -> None:
        raise NotImplementedError

    def prepare(self, rep: int) -> None:
        """The one-time work before the first op, done afresh."""

    def prepare_checks(self, rng) -> None:
        """Untimed preparation of the correctness checks."""

    def op(self, i: int) -> dict:
        raise NotImplementedError

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------

class BuildCorpus(Workload):
    """shingle_keys(k=8) -> build_filter_table(bfuse8) -> FilterTable.load.

    Op ``i`` builds corpus ``i % n_corpora``. The corpora are drawn alike
    but from different draws, so a run's median does not hang on one key
    set: whether the peel kernel has to retry with a new seed depends on
    the keys (one retry adds about 0.5 s to a 4.6 s op).

    The first warm-up op builds on the library defaults; its bits per
    entry is the workload's space metric. Every other op passes
    ``dedup=True`` (see ``op``)."""

    name = "build_corpus"
    n_corpora = 4
    n_docs = 2_600
    total_tokens = 1_250_000
    twin_share = 0.02
    sample_docs = 40
    #: a reader op is about 1 s, mostly Spark's per-job cost, and varies by
    #: about 12% from op to op; two per build halve the noise of the median
    readers_per_op = 2

    def write_inputs(self, rng, path):
        self.expected = []
        for c in range(self.n_corpora):
            corpus = inputs.make_corpus(rng, self.n_docs, self.total_tokens,
                                        self.twin_share)
            table = corpus.pop("table")
            # files of equal token counts: scan tasks take equal time
            # whatever the seed puts in the long tail
            inputs.write_parquet(table, os.path.join(path, f"docs-{c}"), 8,
                                 weights=table.column("n_tok").to_numpy())
            inputs.write_parquet(table.slice(0, self.sample_docs),
                                 os.path.join(path, f"sample-{c}"), 1)
            self.expected.append(corpus)
        self.inputs = path

    def prepare(self, rep):
        # no one-time library work here: opening the docs tables (file
        # listing and parquet schema read) is all there is
        self.docs = [
            self.spark.read.parquet(os.path.join(self.inputs, f"docs-{c}"))
            for c in range(self.n_corpora)]

    def prepare_checks(self, rng):
        from xorf_spark.dataflow import shingle_keys

        self.sample_keys = []
        for c in range(self.n_corpora):
            sample = self.spark.read.parquet(
                os.path.join(self.inputs, f"sample-{c}"))
            keys = np.array(
                [r["key"] for r in shingle_keys(sample, k=8).select("key")
                 .collect()], dtype=np.int64)
            self._write_reader_probes(rng, keys, f"reader-{c}")
            self.sample_keys.append(keys)

    def op(self, i):
        from xorf_spark.dataflow import (FilterTable, build_filter_table,
                                         shingle_keys)

        # The library default (dedup off) sizes bfuse8 by raw key rows,
        # duplicates included: 9.12-9.17 bits per distinct key on this
        # corpus, above the 9.1 the check asks. The first op measures that
        # space cost; the others pass dedup=True, the option the
        # build_filter_df docstring gives for shingle keys, and are checked
        # against 9.1.
        defaults = i == 0
        kw = {} if defaults else {"dedup": True}
        c = i % self.n_corpora
        path = os.path.join(self.work, f"table-{i}")
        t = self.tracer
        with t.op() as op:
            with t.span("shingle_keys"):
                keys = shingle_keys(self.docs[c], k=8)
            with t.span("build"):
                build_filter_table(keys, path, kind="bfuse8", **kw)
            with t.span("load"):
                table = FilterTable.load(self.spark, path)
        want = self.expected[c]["n_distinct"]
        rec = {"op_s": op.wall, "keys": want}
        if t.enabled:
            t.collect(op)
        try:
            if table.n_keys != want:
                raise OpFailed(f"n_keys {table.n_keys} != {want} distinct "
                               f"shingles")
            bpe = table.bits_per_entry()
            if defaults:
                rec["default_bits_per_entry"] = bpe
            elif not bpe < BITS_LIMIT:
                raise OpFailed(f"bits/entry {bpe:.3f} >= {BITS_LIMIT}")
            if not table.contains_np(self.sample_keys[c]).all():
                raise OpFailed("sampled member shingles rejected")
            rec["bits_per_entry"] = bpe
            rec["readers"] = [
                self.reader_op(lambda: FilterTable.load(self.spark, path),
                               f"reader-{c}")
                for _ in range(self.readers_per_op)]
            if t.enabled:
                counts = stage_counts(op, self.ctx.cores)
                counts.update(_build_stats(table.rows.values()))
                counts["dataflow.keys.dup_ratio"] = 1.0 - want / max(
                    counts.pop("shingle_rows"), 1)
                counts["dataflow.build.jobs_per_op"] = counts.pop(
                    "build_jobs")
                rec["layers"], rec["counts"] = op.layers(), counts
        finally:
            shutil.rmtree(path, ignore_errors=True)
        return rec


# ---------------------------------------------------------------------------

class StreamIngest(Workload):
    """stream_exact_dedup(n_buckets=64) -> stream_filter_refresh(
    refresh_every=1), one micro-batch file per trigger, with a reader
    thread loading and probing the latest published table as each trigger
    starts."""

    name = "stream_ingest"
    base_keys = 300_000
    batch_rows = 30_000
    new_share = 0.2
    n_shards = 16
    warmup_ops = 3        # the base batch, then two ordinary triggers
    #: a trigger's time when this feed was sized (4-vCPU VM, local[3]);
    #: it sets how many triggers a window holds, not when the window ends
    trigger_s = 4.2

    def __init__(self, ctx):
        super().__init__(ctx)
        # A fixed feed, measured whole: the refresh rebuilds over the whole
        # key log, so trigger j costs the same on every run only if every
        # run measures the same triggers. A timed window would give a
        # faster library later, dearer triggers, or run out of feed.
        self.window_ops = max(MIN_WINDOW_OPS,
                              round(ctx.seconds / self.trigger_s))

    def write_inputs(self, rng, path):
        self.batches = inputs.make_feed(
            rng, self.base_keys, self.warmup_ops - 1 + self.window_ops,
            self.batch_rows, self.new_share)
        stage = os.path.join(path, "stage")
        os.makedirs(stage, exist_ok=True)
        for i, b in enumerate(self.batches):
            pq.write_table(pa.table({"key": b["keys"]}),
                           os.path.join(stage, f"batch-{i:05d}.parquet"))
        self.inputs = path

    def prepare(self, rep):
        """Start the query on an empty feed and wait for its first trigger;
        each repetition starts afresh, with its own directories."""
        from pyspark.sql.types import LongType, StructField, StructType
        from xorf_spark.streaming.filter_refresh import stream_filter_refresh
        from xorf_spark.streaming.stateful_dedup import stream_exact_dedup

        base = os.path.join(self.work, f"stream-{rep}")
        self.feed = os.path.join(base, "feed")
        self.table_path = os.path.join(base, "filter")
        os.makedirs(self.feed)
        schema = StructType([StructField("key", LongType(), False)])
        src = self.spark.readStream.schema(schema).parquet(self.feed)
        self.query = (
            stream_filter_refresh(stream_exact_dedup(src, n_buckets=64),
                                  self.table_path, n_shards=self.n_shards,
                                  refresh_every=1)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .start())
        self.query.processAllAvailable()
        self.delivered = np.empty(0, dtype=np.int64)

    def prepare_checks(self, rng):
        self._write_reader_probes(rng, self.batches[0]["unseen"])

    def _log_files(self) -> set[str]:
        keys = os.path.join(self.table_path, "keys")
        if not os.path.isdir(keys):
            return set()
        return {f for f in os.listdir(keys) if f.endswith(".parquet")}

    def op(self, i):
        before = self._log_files()
        t = self.tracer
        src = os.path.join(self.inputs, "stage", f"batch-{i:05d}.parquet")
        with t.op() as op:
            os.rename(src, os.path.join(self.feed, os.path.basename(src)))
            if getattr(self, "_go", None) is not None:
                self._go.set()
            with t.span("trigger", group=str(self.query.runId)):
                self.query.processAllAvailable()
        exc = self.query.exception()
        if exc is not None:
            raise RuntimeError(f"stream failed: {exc}")
        want = self.batches[i]["unseen"]
        rec = {"op_s": op.wall, "keys": int(want.size)}
        # the dedup emitted exactly this batch's unseen keys
        keys_dir = os.path.join(self.table_path, "keys")
        new = sorted(self._log_files() - before)
        emitted = (np.concatenate([
            pq.read_table(os.path.join(keys_dir, f)).column("key")
            .to_numpy() for f in new]) if new else np.empty(0, np.int64))
        if emitted.size != want.size or not np.array_equal(
                np.sort(emitted), want):
            raise OpFailed(f"dedup emitted {emitted.size} keys, "
                           f"{want.size} were unseen")
        # the published version accepts every key delivered so far
        from xorf_spark.dataflow import FilterTable
        from xorf_spark.streaming.filter_refresh import latest_version

        self.delivered = np.union1d(self.delivered, want)
        version = latest_version(self.table_path)
        rows = pq.read_table(
            os.path.join(self.table_path, version)).to_pylist()
        table = FilterTable({int(r["shard_id"]): r for r in rows},
                            self.n_shards)
        if table.n_keys != self.delivered.size:
            raise OpFailed(f"version {version} holds {table.n_keys} keys, "
                           f"{self.delivered.size} were delivered")
        if not table.contains_np(self.delivered).all():
            raise OpFailed(f"version {version} rejects delivered keys")
        rec["bits_per_entry"] = table.bits_per_entry()
        if t.enabled:
            t.collect(op)
            progress = self.query.lastProgress or {}
            state = (progress.get("stateOperators") or [{}])[0]
            for sp in op.spans:
                sp.state_commit_ms = float(state.get("commitTimeMs", 0))
            c = stage_counts(op, self.ctx.cores)
            c.update(_build_stats(rows))
            c["streaming.filter_refresh.jobs_per_trigger"] = c.pop(
                "build_jobs")
            c.pop("shingle_rows")
            c["streaming.stateful_dedup.state_rows"] = state.get(
                "numRowsTotal", 0)
            c["streaming.stateful_dedup.state_bytes"] = state.get(
                "memoryUsedBytes", 0)
            c["streaming.stateful_dedup.emitted_ratio"] = (
                emitted.size / max(progress.get("numInputRows", 0), 1))
            c["streaming.filter_refresh.key_log_bytes"] = sum(
                os.path.getsize(os.path.join(keys_dir, f))
                for f in self._log_files())
            c["streaming.filter_refresh.versions_on_disk"] = sum(
                1 for f in os.listdir(self.table_path)
                if re.fullmatch(r"g\d+b\d+", f))
            rec["layers"], rec["counts"] = op.layers(), c
        if i == 0:
            # readers join once the base batch is published, so every
            # later trigger runs beside them
            self._start_reader()
        return rec

    def _start_reader(self):
        """One reader op at the start of every later trigger: each load
        and probe then overlaps the same phase of the refresh, so reader
        latency does not depend on where a free-running loop happens to
        fall against the trigger."""
        from xorf_spark.streaming.filter_refresh import (
            load_latest_filter_table)

        self._stop = threading.Event()
        self._go = threading.Event()

        def loop():
            while not self._stop.is_set():
                if not self._go.wait(timeout=0.5):
                    continue
                self._go.clear()
                try:
                    self.reader_ops.append(self.reader_op(
                        lambda: load_latest_filter_table(
                            self.spark, self.table_path)))
                except Exception:  # a failed reader op is counted, not fatal
                    traceback.print_exc()
                    self.reader_failed += 1

        self._reader = threading.Thread(target=loop, name="reader")
        self._reader.start()

    def close(self):
        reader, self._reader = getattr(self, "_reader", None), None
        if reader is not None:
            self._stop.set()
            reader.join(timeout=120)
        query, self.query = getattr(self, "query", None), None
        if query is not None:
            query.stop()


WORKLOADS = {w.name: w for w in (BuildCorpus, StreamIngest)}
