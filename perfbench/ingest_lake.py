"""Workload ``ingest_and_lake``: the paper's CSV -> keyed upsert ->
paginated-read lifecycle plus the versioned-lake write path, one closed
loop with one client.

One cycle:
 1. drop one CSV wave into the directory ``stream_csv_upsert`` watches and
    wait until the new state version is complete;
 2. read three pages (first, deep OFFSET, keyset) rendered by
    ``to_json_page``;
 3. ``merge_into`` the lake: clustered + scattered updates, inserts above
    the top, and a WHEN NOT MATCHED BY SOURCE delete of as many keys at
    the bottom, so the row count never changes;
 4. at the end of each period (``COMPACT_EVERY`` cycles), ``refresh_mv``
    then ``refresh_rollup_mv``;
 5. at the end of each period, drain the ``table_changefeed`` stream with
    ``availableNow``;
 6. look up one present and one absent key, and read the pre-merge
    version (time travel);
 7. at the end of each period, compaction: ``optimize_incremental``
    re-clusters the groups the period's merges rewrote.

Cycle 0 is the warm-up: it closes a period, so every step has run twice
(once cold in the bootstrap) before timing starts. The measured window
is a whole number of periods after it, so per-period work (and the bytes
written per input byte) does not depend on where the window ends.
"""

from __future__ import annotations

import datetime
import os
import random
import time

import checks
import gen
from stats import Samples, gmean, median
from tracer import sql_sum

FINE_KW = dict(name="fine", group_cols=["cat", "region"],
               sum_cols=["cents", "qty"], key="k")
PAGE_SIZE = 20
POLL_S = 0.002
COMPACT_EVERY = 2  # cycles per compaction period
MIN_PERIODS = 1
# reads are cheap and jittery: each read kind runs this often per cycle
READ_REPEATS = 2
PAGE_KINDS = ("page_first", "page_offset", "page_keyset")
LAKE_READ_KINDS = ("lookup_hit", "lookup_miss", "time_travel")
READ_KINDS = PAGE_KINDS + LAKE_READ_KINDS
HEAVY_KINDS = ("wave_visible", "merge_commit", "mv_fresh", "cdc_fresh",
               "compact")


def du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


class IngestLake:
    def __init__(self, ctx):
        from importlib import import_module

        from pyspark.sql import functions as F

        def mod(name):  # package __init__s re-export same-named functions
            return import_module(f"file_stream_import_spark.{name}")

        self.F = F
        self.versioned, self.pysource = mod("io.versioned"), mod("io.pysource")
        self.mv, self.paginate = mod("operators.mv"), mod("operators.paginate")
        self.ingest = mod("streaming.ingest")
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        w = ctx.work
        self.drop, self.staging = f"{w}/drop", f"{w}/staging"
        self.state_root, self.stream_ck = f"{w}/state", f"{w}/stream_ck"
        self.inputs_dir = f"{w}/inputs"
        self.feed_out, self.feed_ck = f"{w}/feed_out", f"{w}/feed_ck"
        for d in (self.drop, self.staging, self.inputs_dir):
            os.makedirs(d, exist_ok=True)
        self.samples = Samples()       # the measured window
        self.warm_samples = Samples()  # the warm-up cycle
        self.phase = (self.warm_samples, time.perf_counter())
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.cycle = 0
        self.stream = None

    # -- inputs (untimed) ---------------------------------------------------
    def make_inputs(self) -> None:
        plan = gen.IngestPlan()
        self.inp = gen.make_ingest_inputs(self.ctx.seed, plan)
        fields = list(gen.LOC_FIELDS)
        header = list(gen.LOC_HEADER)
        self.wave_files, self.wave_bytes = [], []
        for c, rows in enumerate(self.inp.waves):
            p = f"{self.staging}/wave{c:04d}.csv"
            self.wave_bytes.append(gen.write_csv(p, header, rows, fields))
            self.wave_files.append(p)
        gen.write_csv(f"{self.staging}/initial.csv", header,
                      self.inp.initial_wave, fields)
        cols = list(gen.LAKE_COLUMNS)
        self.lake_csv = f"{self.inputs_dir}/lake_initial.csv"
        gen.write_csv(self.lake_csv, cols, self.inp.lake_initial, cols)
        self.merge_files, self.merge_bytes = [], []
        for c, mb in enumerate(self.inp.merges):
            p = f"{self.inputs_dir}/merge{c:04d}.csv"
            self.merge_bytes.append(gen.write_csv(p, cols, mb.upserts, cols))
            self.merge_files.append(p)
        # models the checks compare against
        self.state_model = {r["locid"]: r for r in self.inp.initial_wave}
        self.lake_model = {r["k"]: r for r in self.inp.lake_initial}
        self.feed_expected = checks.Counter()

    # -- helpers ---------------------------------------------------------
    def _versions(self) -> int:
        if not os.path.isdir(self.state_root):
            return 0
        return sum(1 for d in os.listdir(self.state_root)
                   if d.startswith("v") and os.path.exists(
                       os.path.join(self.state_root, d, "_SUCCESS")))

    def _drop(self, src: str, name: str) -> None:
        """Atomic rename into the watched directory: the stream never sees
        a partial file."""
        os.replace(src, f"{self.drop}/{name}")

    def _wait_version(self, n: int, timeout: float = 120.0) -> None:
        deadline = time.perf_counter() + timeout
        while self._versions() < n:
            if self.stream.exception() is not None:
                raise RuntimeError(f"ingest stream failed: "
                                   f"{self.stream.exception()}")
            if time.perf_counter() > deadline:
                raise TimeoutError("wave did not become visible")
            time.sleep(POLL_S)

    def _merge_source(self, c: int):
        return self.spark.read.csv(self.merge_files[c], header=True,
                                   schema=gen.LAKE_SCHEMA)

    def _drain(self):
        q = (self.spark.readStream.format("table_changefeed")
             .option("path", self.lake.path)
             .option("readchangedata", "true").option("key", "k")
             .option("startingversion", "latest").load()
             .writeStream.format("parquet").option("path", self.feed_out)
             .option("checkpointLocation", self.feed_ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"changefeed drain failed: {q.exception()}")
        return q.recentProgress

    # -- bootstrap (timed as set-up) --------------------------------------
    def bootstrap(self) -> None:
        spark = self.spark
        VT = self.versioned.VersionedTable
        # the stream loads the initial wave in its own thread while the
        # lake is bootstrapped; set-up ends when both are done
        self.stream = self.ingest.stream_csv_upsert(
            spark, self.drop, self.state_root, self.stream_ck)
        self._drop(f"{self.staging}/initial.csv", "initial.csv")
        self.lake = VT(f"{self.ctx.work}/lake")
        self.fine = VT(f"{self.ctx.work}/mv_fine")
        self.coarse = VT(f"{self.ctx.work}/mv_region")
        src = spark.read.csv(self.lake_csv, header=True, schema=gen.LAKE_SCHEMA)
        self.lake.commit(src, mode="overwrite")
        # declared before clustering, the bloom filter is built once for
        # the single committed group, and optimize blooms the groups it
        # writes
        self.lake.set_bloom_columns(spark, ["k"])
        self.lake.optimize(spark, cluster_by="k", target_groups=8)
        self.mv.refresh_mv(self.lake, self.fine, spark, **FINE_KW)
        self.mv.refresh_rollup_mv(self.fine, self.coarse, spark,
                                  name="region", group_cols=["region"])
        spark.dataSource.register(self.pysource.TableChangefeedDataSource)
        self._drain()
        self._wait_version(1)

    def first_ids(self) -> None:
        st = self.ingest.latest_state(self.spark, self.state_root)
        self.ids0 = {r["locid"]: r["id"] for r in
                     st.select("locid", "id").collect()}

    # -- one cycle ---------------------------------------------------------
    def _record(self, kind: str, t0: float, dt: float) -> None:
        """One sample into the current phase (warm-up or window)."""
        samples, t_phase = self.phase
        samples.add(kind, t0 - t_phase, dt, self.cycle - 1)

    def _op(self, kind: str, fn, record=True):
        """Run one operation: counts it, times it, records a sample."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # a failed call is a failed operation
            self.failed += 1
            self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:500])
            raise
        dt = time.perf_counter() - t0
        if record:
            self._record(kind, t0, dt)
        return out, dt

    def _check(self, what: str, fn) -> None:
        try:
            fn()
        except checks.CheckFailed as e:
            self.failed += 1
            self.errors.append(f"check {what}: {e}"[:500])
            raise

    def run_cycle(self) -> dict:
        """One closed-loop cycle; samples go to the current phase."""
        c = self.cycle
        self.cycle += 1
        tr = self.tr
        tr.cycle = c
        spark, F = self.spark, self.F
        pag = self.paginate
        info = {}

        # 1. wave -> visible
        n_before = self._versions()
        wall_drop = time.time()
        with tr.span("stream_ingest", "wave") as sp:
            self._op("wave_visible", lambda: (
                self._drop(self.wave_files[c], f"wave{c:04d}.csv"),
                self._wait_version(n_before + 1)))
        if tr.enabled:
            # the wave's batch, not a later idle trigger
            prog = next((p for p in reversed(self.stream.recentProgress)
                         if p.get("numInputRows", 0) > 0), {})
            sp["wave_bytes"] = self.wave_bytes[c]
            sp["batch_ms"] = (prog.get("durationMs") or {}).get(
                "triggerExecution")
            if prog.get("timestamp"):
                start = datetime.datetime.strptime(
                    prog["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
                    tzinfo=datetime.timezone.utc).timestamp()
                sp["trigger_wait_ms"] = max(0.0, (start - wall_drop) * 1000)
        for r in self.inp.waves[c]:
            self.state_model[r["locid"]] = r

        # 2. pages
        st = self.ingest.latest_state(spark, self.state_root)
        keys = sorted(self.state_model)
        n = len(keys)
        off = (3 * n) // 4
        after = keys[n // 2]
        pages = {
            "page_first": (lambda: pag.paginate(st, ["locid"], PAGE_SIZE, 0),
                           keys[:PAGE_SIZE]),
            "page_offset": (lambda: pag.paginate(st, ["locid"], PAGE_SIZE, off),
                            keys[off:off + PAGE_SIZE]),
            "page_keyset": (lambda: pag.paginate_after(st, "locid", after,
                                                       PAGE_SIZE),
                            keys[n // 2 + 1:n // 2 + 1 + PAGE_SIZE]),
        }
        for kind, (mk, want) in list(pages.items()) * READ_REPEATS:
            with tr.span("paginate", kind) as sp:
                page, _ = self._op(kind, lambda: pag.to_json_page(mk()))
            if tr.enabled:
                sp["rows_returned"] = len(want)
            self._check(kind, lambda: checks.check_page(
                page, [self.state_model[k] for k in want]))

        # 3. merge
        mb = self.inp.merges[c]
        before = dict(self.lake_model)
        pre_version = self.lake.latest_version()
        cond = (F.col("k") >= mb.delete_lo) & (F.col("k") < mb.delete_hi)
        with tr.span("versioned", "merge") as sp:
            version, _ = self._op(
                "merge_commit", lambda: self.versioned.merge_into(
                    self.lake, spark, self._merge_source(c), key="k",
                    when_not_matched_by_source="delete",
                    not_matched_by_source_condition=cond))
        for k in [k for k in self.lake_model if mb.delete_lo <= k < mb.delete_hi]:
            del self.lake_model[k]
        for r in mb.upserts:
            self.lake_model[r["k"]] = r
        self.feed_expected.update(
            checks.merge_deltas(before, self.lake_model, version))
        if tr.enabled:
            h = self.lake.history()[-1]
            sp["groups_rewritten"] = len(h.get("added") or [])
            sp["bytes_written"] = h.get("added_bytes") or 0
            sp["input_bytes"] = self.merge_bytes[c]

        period_end = c % COMPACT_EVERY == 0
        if period_end:
            self._period_end_writes()
        self._lake_reads(mb, before, pre_version)
        if period_end:
            info["compact_bytes"] = self._compact()
        info["merge_input_bytes"] = self.merge_bytes[c]
        return info

    def _period_end_writes(self) -> None:
        """4. both MVs, timed from the commit until both are refreshed;
        5. the changefeed drain."""
        tr, spark = self.tr, self.spark
        t_commit = time.perf_counter()
        with tr.span("mv", "refresh_mv"):
            self._op("refresh_mv", lambda: self.mv.refresh_mv(
                self.lake, self.fine, spark, **FINE_KW), record=False)
        with tr.span("mv", "refresh_rollup_mv"):
            self._op("refresh_rollup_mv",
                     lambda: self.mv.refresh_rollup_mv(
                         self.fine, self.coarse, spark, name="region",
                         group_cols=["region"]), record=False)
        self._record("mv_fresh", t_commit, time.perf_counter() - t_commit)

        with tr.span("changefeed", "drain") as sp:
            progress, _ = self._op("cdc_fresh", self._drain)
        if tr.enabled:
            sp["rows"] = sum(p.get("numInputRows", 0) for p in progress)
            sp["batches"] = sum(1 for p in progress
                                if p.get("numInputRows", 0) > 0)

    def _lake_reads(self, mb, before, pre_version) -> None:
        """6. a present and an absent key, and the pre-merge version."""
        tr, spark = self.tr, self.spark
        hit = 2 * (sorted(r["k"] for r in mb.upserts)[0] // 2)
        miss = hit + 1  # odd keys are never written
        tt_lo = mb.upserts[0]["k"]
        tt_hi = tt_lo + 2 * 20
        reads = {
            "lookup_hit": (lambda: self.lake.read(spark, where={"k": [hit]}),
                           {hit: self.lake_model[hit]}),
            "lookup_miss": (lambda: self.lake.read(spark, where={"k": [miss]}),
                            {}),
            "time_travel": (lambda: self.lake.read(
                spark, version=pre_version, where={"k": (tt_lo, tt_hi - 1)}),
                {k: r for k, r in before.items() if tt_lo <= k < tt_hi}),
        }
        for kind, (mk, want) in list(reads.items()) * READ_REPEATS:
            with tr.span("versioned", kind, sql=True) as sp:
                rows, _ = self._op(
                    kind, lambda: [r.asDict() for r in mk().collect()])
            self._check(kind, lambda: checks.check_lake_rows(rows, want, kind))

    def _compact(self) -> int:
        """7. compaction, closing the period; returns the bytes it wrote."""
        b0 = du(self.lake.path)
        with self.tr.span("versioned", "compact") as sp:
            self._op("compact",
                     lambda: self.lake.optimize_incremental(self.spark))
        written = du(self.lake.path) - b0
        sp["compact_bytes"] = written
        return written

    # -- end-of-run checks (untimed) ---------------------------------------
    def final_checks(self) -> None:
        spark = self.spark
        st = self.ingest.latest_state(spark, self.state_root)
        rows = [r.asDict() for r in st.collect()]
        replay = checks.replay_waves(self.inp.initial_wave,
                                     self.inp.waves[:self.cycle])
        self._check("ingest_state", lambda: checks.check_ingest_state(
            rows, replay, self.ids0))
        lake_rows = [r.asDict() for r in self.lake.read(spark).collect()]
        self._check("lake", lambda: checks.check_lake_rows(
            lake_rows, self.lake_model, "lake table"))
        fine = [r.asDict() for r in self.fine.read(spark).collect()]
        coarse = [r.asDict() for r in self.coarse.read(spark).collect()]
        self._check("mv", lambda: checks.check_mvs(fine, coarse,
                                                   self.lake_model))
        import pyarrow.dataset as ds

        feed = ds.dataset(self.feed_out, format="parquet",
                          exclude_invalid_files=True,
                          ignore_prefixes=["_", "."]).to_table().to_pylist()
        self._check("changefeed", lambda: checks.check_changefeed(
            feed, self.feed_expected))

    def stop(self) -> None:
        if self.stream is not None:
            self.stream.stop()
            self.stream = None

    # -- traced extras: layers the cycle reaches only indirectly ----------
    def traced_extras(self) -> None:
        from file_stream_import_spark.io.csv_ingest import ingest_locations_csv
        from file_stream_import_spark.operators.upsert import merge_upsert

        spark, tr = self.spark, self.tr
        rng = random.Random(self.ctx.seed)
        extras = f"{self.ctx.work}/extras"
        os.makedirs(extras, exist_ok=True)
        tr.cycle = "extras"
        for i in range(3):
            rows = self.inp.waves[self.cycle + i]
            header, fields = gen.shuffled_header(rng)
            path = f"{extras}/shuffled{i}.csv"
            nbytes = gen.write_csv(path, header, rows, fields)
            self.attempted += 1
            with tr.span("csv_ingest", "ingest_locations_csv") as sp:
                got = [r.asDict() for r in
                       ingest_locations_csv(spark, path).collect()]
            sp["input_bytes"] = nbytes
            want = [{f: r[f] for f in gen.LOC_FIELDS} for r in rows]
            if got != want:
                self.failed += 1
                self.errors.append("check csv_ingest: shuffled-header wave "
                                   "read back differently")
            out = f"{extras}/upsert{i}"
            self.attempted += 1
            with tr.span("upsert", "merge_upsert") as sp:
                merged = merge_upsert(
                    self.ingest.latest_state(spark, self.state_root),
                    ingest_locations_csv(spark, path))
                merged.write.mode("overwrite").parquet(out)
            import pyarrow.parquet as pq

            sp["rows_written"] = pq.ParquetDataset(out).read(
                columns=["locid"]).num_rows
            sp["wave_rows"] = len(rows)

    # -- metrics -----------------------------------------------------------
    def named(self, write_bytes: int, input_bytes: int) -> dict:
        """The workload's own per-kind metrics (kept in every record)."""
        s = self.samples
        ms = 1000.0
        return {
            "wave_visible_p50_s": s.p50("wave_visible"),
            "page_read_gmean_ms": gmean([s.p50(k) * ms for k in PAGE_KINDS]),
            "merge_commit_p50_s": s.p50("merge_commit"),
            "mv_fresh_p50_s": s.p50("mv_fresh"),
            "cdc_fresh_p50_s": s.p50("cdc_fresh"),
            "lake_read_gmean_ms": gmean([s.p50(k) * ms for k in LAKE_READ_KINDS]),
            "compact_p50_s": s.p50("compact"),
            "write_amp": write_bytes / input_bytes if input_bytes else None,
        }


def _layer_metrics(tr) -> dict:
    """Layer-specific per-layer metrics (medians per call)."""
    out = {}

    def med(layer, fn, name=None):
        vals = [fn(s) for s in tr.layer_spans(layer)
                if (name is None or s["name"] == name)]
        vals = [v for v in vals if v is not None]
        return median(vals) if vals else 0.0

    out["csv_ingest.input_mb_per_s"] = med(
        "csv_ingest", lambda s: s["input_bytes"] / 1e6 /
        (s["counters"]["wall_ms"] / 1000))
    out["upsert.rows_written_per_wave_row"] = med(
        "upsert", lambda s: s["rows_written"] / s["wave_rows"])
    out["stream_ingest.trigger_wait_ms"] = med(
        "stream_ingest", lambda s: s.get("trigger_wait_ms"))
    out["stream_ingest.batch_ms"] = med(
        "stream_ingest", lambda s: s.get("batch_ms"))

    def scanned(s):
        return s["input_records"] / s["rows_returned"]

    out["paginate.rows_scanned_per_row_returned"] = med("paginate", scanned)
    out["versioned.groups_rewritten_per_merge"] = med(
        "versioned", lambda s: s.get("groups_rewritten"), "merge")
    out["versioned.bytes_written_per_input_byte"] = med(
        "versioned", lambda s: s["bytes_written"] / s["input_bytes"], "merge")
    lookups = [sql_sum(s, "Scan", "number of files read")
               for s in tr.layer_spans("versioned")
               if s["name"] in ("lookup_hit", "lookup_miss")]
    out["versioned.files_read_per_lookup"] = median(lookups) if lookups else 0.0
    out["versioned.compact_bytes_rewritten"] = med(
        "versioned", lambda s: s.get("compact_bytes"), "compact")
    out["changefeed.rows_per_s"] = med(
        "changefeed", lambda s: s["rows"] / (s["counters"]["wall_ms"] / 1000))
    out["changefeed.batches_per_drain"] = med(
        "changefeed", lambda s: s["batches"])
    return out


def run(ctx) -> dict:
    """Set up, warm up, measure, check. Returns the workload's record."""
    wl = IngestLake(ctx)
    t = time.perf_counter()
    wl.make_inputs()
    gen_s = time.perf_counter() - t

    t = time.perf_counter()
    wl.bootstrap()
    bootstrap_s = time.perf_counter() - t
    wl.first_ids()  # untimed: read for the id-stability check
    t = time.perf_counter()
    wl.phase = (wl.warm_samples, t)
    wl.run_cycle()
    warm_s = time.perf_counter() - t

    st0 = _footprint(wl)
    t_window = time.perf_counter()
    wl.phase = (wl.samples, t_window)
    infos = []
    while (len(infos) < MIN_PERIODS * COMPACT_EVERY
           or time.perf_counter() - t_window < ctx.seconds):
        if wl.cycle + COMPACT_EVERY + 3 > len(wl.inp.waves):
            break  # keep three waves for the traced extras
        for _ in range(COMPACT_EVERY):
            infos.append(wl.run_cycle())
    window_s = time.perf_counter() - t_window
    st1 = _footprint(wl)

    if ctx.tracer.enabled:
        wl.traced_extras()
    wl.stop()
    t = time.perf_counter()
    wl.final_checks()
    check_s = time.perf_counter() - t

    write_bytes = st1["lake_bytes"] - st0["lake_bytes"]
    input_bytes = sum(i["merge_input_bytes"] for i in infos)
    return {
        "setup_s": ctx.session_s + bootstrap_s + warm_s,
        "read_kinds": READ_KINDS,
        "heavy_kinds": HEAVY_KINDS,
        "named": wl.named(write_bytes, input_bytes),
        "per_layer": _layer_metrics(ctx.tracer) if ctx.tracer.enabled else {},
        "attempted": wl.attempted,
        "failed": wl.failed,
        "errors": wl.errors,
        "samples": wl.samples.summary(window_s),
        "setup": {"session_s": ctx.session_s, "bootstrap_s": bootstrap_s,
                  "warmup_s": warm_s,
                  "untimed_input_gen_s": gen_s, "untimed_check_s": check_s},
        "window": {"seconds": window_s, "cycles": len(infos),
                   "compact_bytes": [i["compact_bytes"] for i in infos
                                     if "compact_bytes" in i]},
        # per-kind medians of the warm-up cycle, set beside the window's
        # per-cycle medians in "samples", show whether times had settled
        "warmup_samples": wl.warm_samples.summary(warm_s),
        "stationarity": {"start": st0, "end": st1},
    }


def _footprint(wl) -> dict:
    """State and lake size: rows, and bytes on disk (the ingest state keeps
    every version, so also the latest version's bytes)."""
    vs = sorted(d for d in os.listdir(wl.state_root) if d.startswith("v"))
    return {"state_rows": len(wl.state_model),
            "state_bytes": du(wl.state_root),
            "latest_state_bytes": du(os.path.join(wl.state_root, vs[-1])),
            "lake_rows": len(wl.lake_model), "lake_bytes": du(wl.lake.path)}
