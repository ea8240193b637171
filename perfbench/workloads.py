"""The store-path workloads: backfill and trickle_mix.

Each is one closed-loop client issuing operations against the TierStore
product path (``write_raw -> materialize_cascade -> ingest_increment ->
read_gated``) until ``--seconds`` have passed, after a set-up that builds
everything the timed loop needs.  Outputs are checked against the numpy
oracle after the timed loop.  README.md gives the rationale of each
workload and the layer -> metric -> workload map.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq
import pyspark.sql.functions as F

import gen
import oracle
from engine import EngineCounters
from spans import Tracer

from diive_spark.datagen import series_view
from diive_spark.functions.gorilla import decode_batch, encode_batch
from diive_spark.operators.gaps import gap_runs, interpolate_limited
from diive_spark.operators.outliers import zscore_flag
from diive_spark.operators.resample import bucket_rollup, compose_rollup
from diive_spark.operators.tiers import (
    COMPOSABLE_COLS, DEFAULT_CASCADE, TIER_COLS, ParquetDPOBackend, TierStore,
)

CORPUS_TOKENS = 200_000  # corpus size (~600 docs)
SETUP_ROUNDS = 3        # set-up repeated this often per run; setup_s takes the median
INC_TOKENS = 33_000     # tokens per merge increment (~100 docs)
REPLACE_FRAC = 0.3      # share of an increment's docs that replace stored docs
MERGES_PER_CYCLE = 2    # trickle_mix cycle: 2 x (merge + query block), compact
MAX_INCREMENTS = 12
READS_PER_BLOCK = 6     # query block after each merge: 6 reads + 1 drill-down
DRILLS_PER_BLOCK = 1
DRILL_DOCS = 20
MINCOUNTS_PERC = 0.25
SAMPLE_DOCS = 6         # oracle bin-check sample per store
TABLES = ("raw", "tier_1m", "tier_1h", "tier_1d")
TIERS = TABLES[1:]


@dataclass
class Op:
    kind: str
    wall_s: float
    traced: bool
    error: str | None = None
    tokens: int = 0
    result: object = None
    engine: dict | None = None
    failed: bool = False
    op_id: int = 0


class Run:
    """State of one workload run: session, scratch dir, op log, tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(False)
        self.counters = EngineCounters(spark) if trace else None
        self.ops: list[Op] = []
        self.setup_rounds: list[float] = []
        self.layer: dict[str, float] = {}
        self.info: dict = {}      # sample counts
        self.named: dict = {}     # design-note metric name -> (value, unit)
        self.metrics: dict = {}
        self._n: dict[str, int] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, kind: str, fn, tokens: int = 0, warmup: bool = False) -> Op:
        """Run one operation of the closed loop.  Warm-up ops are untraced and
        not counted.  In a traced run every other op of each kind is traced,
        so traced and untraced latencies of one op sequence come from the
        same process; their difference is the tracing overhead."""
        traced = False
        if not warmup:
            n = self._n.get(kind, 0)
            self._n[kind] = n + 1
            traced = self.trace and n % 2 == 0
        self.tracer.enabled = traced
        mark = self.counters.mark() if traced else None
        t0w, t0 = time.time(), time.perf_counter()
        err = result = None
        op_id = self.tracer.new_op()
        with self.tracer.span(f"op.{kind}", "op", op_id=op_id):
            try:
                result = fn()
            except Exception:
                err = traceback.format_exc(limit=4)
                print(f"perfbench: {kind} failed\n{err}", file=sys.stderr)
        o = Op(kind, time.perf_counter() - t0, traced, err, tokens, result, op_id=op_id)
        if traced:
            o.engine = self.counters.since(mark, t0w, time.time())
        self.tracer.enabled = False
        if not warmup:
            self.ops.append(o)
        return o

    def window(self):
        """Yields while the timed window is open."""
        t_end = time.perf_counter() + self.seconds
        while time.perf_counter() < t_end:
            yield

    def of(self, kind: str) -> list[Op]:
        return [o for o in self.ops if o.kind == kind]


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _p90(xs) -> float:
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return float(statistics.quantiles(xs, n=10, method="inclusive")[-1])


# ----------------------------------------------------------- store helpers
def table_stats(root: str) -> dict[str, tuple[int, int]]:
    """table -> (parquet files, bytes) on disk."""
    out = {}
    for t in TABLES:
        n = b = 0
        for dp, _, files in os.walk(os.path.join(root, t)):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    b += os.path.getsize(os.path.join(dp, f))
        out[t] = (n, b)
    return out


def tier_rows(root: str) -> dict[str, int]:
    """tier -> rows stored, from the parquet footers (no Spark job)."""
    return {t: sum(pq.ParquetFile(os.path.join(dp, f)).metadata.num_rows
                   for dp, _, files in os.walk(os.path.join(root, t))
                   for f in files if f.endswith(".parquet"))
            for t in TIERS}


def partition_signatures(root: str) -> dict[str, frozenset]:
    """partition dir -> its parquet files (name, size, mtime)."""
    out = {}
    for t in TABLES:
        for dp, _, files in os.walk(os.path.join(root, t)):
            stats = {f: os.stat(os.path.join(dp, f)) for f in files if f.endswith(".parquet")}
            sig = frozenset((f, s.st_size, s.st_mtime_ns) for f, s in stats.items())
            if sig:
                out[dp] = sig
    return out


def partition_files(root: str, q: dict) -> int:
    """Parquet files in the partition a rollup read scans."""
    part = os.path.join(root, q["tier"], f"source={q['source']}")
    return sum(1 for _, _, files in os.walk(part) for f in files if f.endswith(".parquet"))


def build_store(run: Run, root: str, toks_path: str) -> dict:
    """write_raw + materialize_cascade over a tokens parquet: the backfill op."""
    store = TierStore(run.spark, root)
    toks = run.spark.read.parquet(toks_path)
    t0 = time.perf_counter()
    with run.tracer.span("write_raw", "operators.tiers"):
        store.write_raw(toks)
    t1 = time.perf_counter()
    with run.tracer.span("materialize_cascade", "operators.tiers"):
        report = store.materialize_cascade(series_view(toks))
    return {"store": store, "root": root, "write_raw_s": t1 - t0,
            "materialize_s": time.perf_counter() - t1, "report": report}


def check_store(store: TierStore, expected: dict, sample: list[tuple[str, str]]) -> list[str]:
    """Oracle check of a whole store: the decoded raw tier equals the
    expected token arrays for every doc, and every tier's bins equal numpy's
    for the sampled docs."""
    bad = []
    raw = store.read_raw_decoded().toPandas()
    got = {(s, d): np.asarray(t) for s, d, t in zip(raw["source"], raw["doc_id"], raw["tokens"])}
    if set(got) != set(expected):
        bad.append(f"raw: {len(set(got) ^ set(expected))} keys differ")
    bad += [f"raw/{k}: tokens differ" for k, toks in expected.items()
            if k in got and not np.array_equal(got[k], toks)]
    ids = [d for _, d in sample]
    for tier, every in oracle.TIER_EVERY.items():
        rows = [r.asDict() for r in store.read(tier).where(F.col("doc_id").isin(ids)).collect()]
        for key in sample:
            mine = [r for r in rows if (r["source"], r["doc_id"]) == key]
            bad += oracle.compare_bins(key[1], tier, oracle.bin_stats(expected[key], every), mine)
    return bad


def sample_keys(seed: int, keys: list, n: int, must: list = ()) -> list:
    rng = np.random.default_rng(seed)
    pick = [keys[i] for i in rng.choice(len(keys), size=min(n, len(keys)), replace=False)]
    return sorted(set(pick) | set(must))


def setup(run: Run) -> tuple[list, int, str, dict]:
    """The set-up both workloads share, repeated ``SETUP_ROUNDS`` times in
    fresh directories: generate the corpus, write it as parquet and backfill
    it into an empty store.  The first round is cold (class loading, first
    query plans) and the later ones warm the JIT for the timed loop.  Returns
    the corpus, its token count, the input path and the last round's
    backfill result; the round times go to ``run.setup_rounds``."""
    for k in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        docs = gen.corpus(run.seed, CORPUS_TOKENS)
        toks_path = run.path(f"setup-{k}", "input.parquet")
        os.makedirs(os.path.dirname(toks_path))
        tokens = gen.write_parquet(docs, toks_path)
        built = build_store(run, run.path(f"setup-{k}", "store"), toks_path)
        run.setup_rounds.append(time.perf_counter() - t0)
    return docs, tokens, toks_path, built


def gorilla_layer(run: Run, arrays: list[np.ndarray]) -> None:
    """In-process codec throughput on the workload's own token arrays (an op
    of its own: a round trip that differs counts as a failed op)."""
    enc, dec = [], []

    def codec():
        with run.tracer.span("encode_decode", "functions.gorilla"):
            for _ in range(3):
                t0 = time.perf_counter()
                payloads = encode_batch(arrays)
                t1 = time.perf_counter()
                back = decode_batch(payloads)
                dec.append(time.perf_counter() - t1)
                enc.append(t1 - t0)
        return payloads, back

    o = run.op("codec", codec)
    if o.error:
        return
    payloads, back = o.result
    o.failed = not all(np.array_equal(a, b) for a, b in zip(arrays, back))
    tok = sum(len(a) for a in arrays)
    run.layer.update({
        "gorilla.encode_tokens_per_s": tok / _median(enc),
        "gorilla.decode_tokens_per_s": tok / _median(dec),
        "gorilla.raw_bytes_per_token": sum(len(p) for p in payloads) / tok,
    })


def store_layer(run: Run, root: str, stats: dict[str, tuple[int, int]]) -> None:
    """Files and bytes per table from ``stats`` (a ``table_stats`` snapshot),
    and the lineage log size of the store at ``root``."""
    for t, (n, b) in stats.items():
        run.layer[f"tiers.{t}.bytes_written"] = b
        run.layer[f"tiers.{t}.files"] = n
    lineage = os.path.join(root, "_lineage.jsonl")
    run.layer["tiers.lineage_bytes"] = os.path.getsize(lineage) if os.path.exists(lineage) else 0


def engine_layer(run: Run, kind: str) -> None:
    """spark.* = median over the traced ops of the workload's primary kind."""
    eng = [o.engine for o in run.of(kind) if o.engine]
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "input_bytes", "output_bytes", "idle_frac"):
        run.layer[f"spark.{k}"] = _median(e[k] for e in eng)


def overhead_layer(run: Run, kind: str) -> None:
    traced = [o.wall_s for o in run.of(kind) if o.traced and not o.error]
    plain = [o.wall_s for o in run.of(kind) if not o.traced and not o.error]
    run.layer["trace.traced_op_p50_s"] = _median(traced)
    run.layer["trace.untraced_op_p50_s"] = _median(plain)
    if traced and plain:
        run.layer["trace.overhead_s"] = _median(traced) - _median(plain)


# --------------------------------------------------------------- backfill
def split_backfill(run: Run, root: str, toks_path: str) -> dict:
    """Traced-only decomposition of one backfill: each public stage is forced
    on its own checkpointed frame, so its span holds that layer's work.

    This is the benchmark's own copy of ``materialize_cascade``'s composition
    over ``DEFAULT_CASCADE``, not the program's: tier_1h and tier_1d are
    composed from the checkpointed in-memory lower tier (the program rereads
    the stored one), and the fingerprint and lineage steps are left out.  So
    the ``resample.*`` figures time this copy; a program change to the
    cascade's composition shows only in the timed backfills (``tiers.*``)
    and in the check against the rows they stored (see ``backfill``)."""
    t, spark, keys = run.tracer, run.spark, ["source", "doc_id"]
    store = TierStore(spark, root)
    backend = ParquetDPOBackend(spark, root)
    toks = spark.read.parquet(toks_path)
    counts: dict = {}

    def forced(name, layer, make):
        mark, t0w = run.counters.mark(), time.time()
        with t.span(name, layer):
            df = make().localCheckpoint()
        counts[name] = {"engine": run.counters.since(mark, t0w, time.time()), "rows": df.count()}
        return df

    with t.span("write_raw", "operators.tiers"):
        store.write_raw(toks)
    series = forced("series_view", "datagen.series_view", lambda: series_view(toks))
    first = DEFAULT_CASCADE[0]
    pcols = [f"p{int(round(q * 100)):02d}" for q in first.percentiles]
    prev = forced("rollup.tier_1m", "operators.resample", lambda: bucket_rollup(
        series, every=first.every, key_cols=keys, mincounts_perc=0.0, min_floor_rule=False,
        percentiles=list(first.percentiles), fingerprint_over=keys + ["pos"]).drop("_fp_h"))
    frames = {first.name: prev}
    for spec in DEFAULT_CASCADE[1:]:
        comp = forced(f"compose.{spec.name}", "operators.resample", lambda: compose_rollup(
            prev, every=spec.every, key_cols=keys, mincounts_perc=0.0, min_floor_rule=False))
        pct = forced(f"pctl_rescan.{spec.name}", "operators.resample", lambda: bucket_rollup(
            series, every=spec.every, key_cols=keys, mincounts_perc=0.0, min_floor_rule=False,
            percentiles=list(spec.percentiles)).select(*keys, "bin_start", *pcols))
        prev = comp.join(pct, on=keys + ["bin_start"], how="left")
        frames[spec.name] = prev
    for name, df in frames.items():
        cols = TIER_COLS + pcols + [c for c in COMPOSABLE_COLS if c in df.columns]
        with t.span(f"write_partitions.{name}", "operators.tiers"):
            backend.write_partitions(df.select(*cols), name)
    return counts


def backfill(run: Run) -> None:
    docs, tokens, toks_path, _ = setup(run)
    roots = []
    for _ in run.window():
        roots.append(run.path(f"store-{len(roots)}"))
        run.op("backfill", lambda: build_store(run, roots[-1], toks_path), tokens=tokens)

    expected = {d.key: d.tokens for d in docs}
    longest = max(docs, key=lambda d: len(d.tokens)).key
    sample = sample_keys(run.seed, list(expected), SAMPLE_DOCS, [longest])
    for o in run.ops:
        if o.error is None:
            o.failed = bool(check_store(o.result["store"], expected, sample))
    ok = [o for o in run.ops if not o.error]
    for o in ok:
        o.result["rows"] = tier_rows(o.result["root"])
    busy = sum(o.wall_s for o in ok)
    points = sum(sum(o.result["rows"].values()) for o in ok)
    run.metrics = {
        "primary_p50_s": _median(o.wall_s for o in ok),
        "secondary_p50_s": _median(o.result["write_raw_s"] for o in ok),
        "tertiary_p50_s": _median(o.result["materialize_s"] for o in ok),
        "tokens_per_s": tokens * len(ok) / busy if busy else 0.0,
        "store_bytes_per_token": sum(b for _, b in table_stats(roots[-1]).values()) / tokens,
    }
    # the n_rows of materialize_cascade's report, per row actually stored: a
    # check of the report that is recorded but not counted as a failure
    reported = sum(o.result["report"][t]["n_rows"] for o in ok for t in TIERS)
    run.info = {"backfills": len(run.ops), "corpus_docs": len(docs), "corpus_tokens": tokens,
                "report_rows_per_stored_row": reported / points if points else 0.0}
    run.named = {"backfill_tokens_per_s": (run.metrics["tokens_per_s"], "tok/s"),
                 "backfill_points_per_s": (points / busy if busy else 0.0, "pts/s")}
    if not run.trace:
        return
    gorilla_layer(run, [d.tokens for d in docs])
    traced = [o for o in ok if o.traced]
    run.layer["tiers.write_raw_s"] = _median(o.result["write_raw_s"] for o in traced)
    run.layer["tiers.materialize_s"] = _median(o.result["materialize_s"] for o in traced)
    for t in TIERS:
        run.layer[f"tiers.{t}_s"] = _median(o.result["report"][t]["wall_s"] for o in traced)
    store_layer(run, roots[-1], table_stats(roots[-1]))
    engine_layer(run, "backfill")
    overhead_layer(run, "backfill")
    split_root = run.path("split-store")
    o = run.op("backfill_split", lambda: split_backfill(run, split_root, toks_path), tokens=tokens)
    if o.error is None:
        c = o.result
        # the split copy must write what the program's cascade wrote
        split_rows = {t: c[f"rollup.{t}" if t == "tier_1m" else f"compose.{t}"]["rows"] for t in TIERS}
        o.failed = bool(check_store(TierStore(run.spark, split_root), expected, sample)) or any(
            b.result["rows"] != split_rows for b in ok)
        spans = {s.name: s.duration for s in run.tracer.spans if s.op_id == o.op_id}
        run.layer["series_view.s"] = spans["series_view"]
        run.layer["series_view.rows_out"] = c["series_view"]["rows"]
        run.layer["resample.tier1m_rollup_s"] = spans["rollup.tier_1m"]
        run.layer["resample.compose_s"] = sum(spans[f"compose.{t}"] for t in TIERS[1:])
        run.layer["resample.pctl_rescan_s"] = sum(spans[f"pctl_rescan.{t}"] for t in TIERS[1:])
        n_series = c["series_view"]["rows"]
        tier_in = {"tier_1m": n_series}
        for lo, hi in zip(TIERS, TIERS[1:]):
            tier_in[hi] = split_rows[lo] + n_series
        for t in TIERS:
            parts = [f"rollup.{t}"] if t == "tier_1m" else [f"compose.{t}", f"pctl_rescan.{t}"]
            run.layer[f"resample.{t}.rows_in"] = tier_in[t]
            run.layer[f"resample.{t}.rows_out"] = split_rows[t]
            run.layer[f"resample.{t}.shuffle_bytes"] = sum(
                c[p]["engine"]["shuffle_write_bytes"] for p in parts)


# ------------------------------------------------------------- trickle_mix
def _merge(run: Run, store: TierStore, path: str) -> dict:
    with run.tracer.span("ingest_increment", "operators.tiers"):
        return store.ingest_increment(run.spark.read.parquet(path))


def _compact(run: Run, store: TierStore) -> dict:
    total = {"files_before": 0, "files_after": 0}
    for t in TABLES:
        with run.tracer.span(f"compact.{t}", "operators.tiers"):
            stats = store.compact(t)
        total["files_before"] += stats["files_before"]
        total["files_after"] += stats["files_after"]
    return total


def _read(run: Run, store: TierStore, q: dict) -> dict:
    """Gated rollup read: one source, a doc-id range, aggregated per doc."""
    df = (
        store.read_gated(q["tier"], MINCOUNTS_PERC)
        .where((F.col("source") == q["source"]) & (F.col("doc_id") >= q["lo"])
               & (F.col("doc_id") < q["hi"]))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)), F.sum("n"), F.sum("n_grid"), F.sum("sum"),
             F.min("min"), F.max("max"))
    )
    with run.tracer.span("read_gated", "operators.tiers"):
        rows = df.collect()
    return {r[0]: tuple(r[1:]) for r in rows}


def _drill(run: Run, store: TierStore, ids: list[str]) -> tuple[list, list]:
    """read_raw_decoded -> series_view -> zscore_flag -> interpolate_limited
    and gap_runs, each stage forced on its own so spans separate the layers."""
    t = run.tracer
    with t.span("read_raw_decoded", "operators.tiers"):
        raw = store.read_raw_decoded().where(F.col("doc_id").isin(ids)).localCheckpoint()
    with t.span("series_view", "datagen.series_view"):
        series = series_view(raw).localCheckpoint()
    with t.span("zscore_flag", "operators.outliers"):
        flagged = zscore_flag(series, thres=4.0).withColumn(
            "value_qc", F.when(F.col("flag_zscore") == 2, F.lit(None).cast("double"))
            .otherwise(F.col("value"))).localCheckpoint()
    with t.span("interpolate_limited", "operators.gaps"):
        filled = interpolate_limited(flagged, limit=3, value_col="value_qc").select(
            "doc_id", "pos", "flag_zscore", "value_qc_gf", "value_qc_gf_flag").collect()
    with t.span("gap_runs", "operators.gaps"):
        gaps = gap_runs(flagged, value_col="value_qc").select(
            "doc_id", "gap_start", "gap_end", "gap_length").collect()
    return filled, gaps


def _check_query(o: Op, q: dict, state: dict[str, np.ndarray], source_of: dict[str, str]) -> None:
    """Oracle check of one read or drill-down against the store state it saw."""
    if q["kind"] == "read":
        sel = {d: t for d, t in state.items()
               if source_of[d] == q["source"] and q["lo"] <= d < q["hi"]}
        want = oracle.gated_read_answer(sel, oracle.TIER_EVERY[q["tier"]], MINCOUNTS_PERC)
        o.failed = bool(oracle.compare_answer("read", want, o.result))
        return
    filled, gaps = o.result
    bad = []
    for did in q["doc_ids"]:
        bad += oracle.compare_qc(
            did, oracle.qc_expected(state[did]),
            [(r[1], r[2], r[3], r[4]) for r in filled if r[0] == did],
            [(r[1], r[2], r[3]) for r in gaps if r[0] == did])
    o.failed = bool(bad)


def trickle_mix(run: Run) -> None:
    docs, _, _, built = setup(run)
    store, root = built["store"], built["root"]
    incs = gen.increments(run.seed, docs, MAX_INCREMENTS, INC_TOKENS, REPLACE_FRAC)
    inc_tokens = [gen.write_parquet(inc, run.path(f"inc-{k}.parquet")) for k, inc in enumerate(incs)]
    # one block per increment, plus one for the warm-up
    blocks = gen.query_blocks(run.seed, docs, MAX_INCREMENTS + 1, READS_PER_BLOCK,
                              DRILLS_PER_BLOCK, DRILL_DOCS)
    fns = {"merge": lambda k: _merge(run, store, run.path(f"inc-{k}.parquet")),
           "compact": lambda _: _compact(run, store),
           "read": lambda q: _read(run, store, q),
           "drill": lambda q: _drill(run, store, q["doc_ids"])}
    # the set-up backfills have warmed the write path; warm up the read
    # path too, on a query block the timed loop does not use
    warm = {"compact": None,
            "read": next(q for q in blocks[-1] if q["kind"] == "read"),
            "drill": next(q for q in blocks[-1] if q["kind"] == "drill")}
    for kind, arg in warm.items():
        run.op(kind, lambda: fns[kind](arg), warmup=True)
    applied = 0
    issued: list[tuple[Op, object, int]] = []  # (op, argument, increments applied when run)
    rewritten: list[int] = []
    read_files: list[int] = []  # queried partition's files before each traced read
    pre_compact: dict = {}      # table_stats before the last compaction
    for _ in run.window():
        if applied + MERGES_PER_CYCLE > len(incs):
            break
        for _ in range(MERGES_PER_CYCLE):
            before = partition_signatures(root) if run.trace else None
            o = run.op("merge", lambda: fns["merge"](applied), tokens=inc_tokens[applied])
            if o.traced:
                after = partition_signatures(root)
                rewritten.append(sum(1 for p, sig in after.items() if before.get(p) != sig))
            issued.append((o, applied, applied + 1))
            for q in blocks[applied]:
                files = partition_files(root, q) if run.trace and q["kind"] == "read" else None
                o = run.op(q["kind"], lambda: fns[q["kind"]](q))
                if o.traced and files is not None:
                    read_files.append(files)
                issued.append((o, q, applied + 1))
            applied += 1
        if run.trace:
            pre_compact = table_stats(root)
        issued.append((run.op("compact", lambda: fns["compact"](None)), None, applied))

    # oracle: every query against the store state it saw, then the final store
    states = {}
    source_of = {d.doc_id: d.source for inc in incs for d in inc}
    source_of.update({d.doc_id: d.source for d in docs})
    for o, arg, n_applied in issued:
        if o.error or o.kind not in ("read", "drill"):
            continue
        if n_applied not in states:
            states[n_applied] = {k[1]: t for k, t in gen.apply_increments(docs, incs[:n_applied]).items()}
        _check_query(o, arg, states[n_applied], source_of)
    expected = gen.apply_increments(docs, incs[:applied])
    base_keys = {d.key for d in docs}
    touched = {d.key for inc in incs[:applied] for d in inc}
    must = []
    for inc in incs[:applied]:
        must += [d.key for d in inc if d.key in base_keys][:1] + [d.key for d in inc if d.key not in base_keys][:1]
    sample = sample_keys(run.seed, sorted(base_keys - touched), SAMPLE_DOCS // 2, must)
    merges = [(o, k) for o, k, _ in issued if o.kind == "merge"]
    for msg in check_store(store, expected, sample):
        # blame the merges that wrote the mismatching doc, else the last one
        hit = [o for o, k in merges if any(d.doc_id in msg for d in incs[k])]
        for o in hit or [o for o, _ in merges[-1:]]:
            o.failed = True

    walls = {k: [o.wall_s for o in run.of(k) if not o.error] for k in ("merge", "compact", "read", "drill")}
    write_busy = sum(walls["merge"]) + sum(walls["compact"])
    stored = sum(len(t) for t in expected.values())
    run.metrics = {
        "primary_p50_s": _median(walls["read"]),
        "secondary_p50_s": _median(walls["merge"]),
        "tertiary_p50_s": _median(walls["drill"]),
        "tokens_per_s": sum(o.tokens for o in run.of("merge") if not o.error) / write_busy
        if write_busy else 0.0,
        "store_bytes_per_token": sum(b for _, b in table_stats(root).values()) / stored,
    }
    merged_docs = sum(len(incs[k]) for o, k in merges if not o.error)
    run.info = {k + "s": len(v) for k, v in walls.items()}
    run.named = {"merge_p50_s": (_median(walls["merge"]), "s"),
                 "merge_docs_per_s": (merged_docs / write_busy if write_busy else 0.0, "doc/s"),
                 "rollup_read_p50_s": (_median(walls["read"]), "s"),
                 "rollup_read_p90_s": (_p90(walls["read"]), "s"),
                 "drilldown_p50_s": (_median(walls["drill"]), "s")}
    if not run.trace:
        return
    gorilla_layer(run, [d.tokens for d in docs] + [d.tokens for inc in incs[:applied] for d in inc])
    # the layout the merges left, which the reads of the last cycle scanned
    store_layer(run, root, pre_compact)
    engine_layer(run, "read")
    overhead_layer(run, "read")
    traced = [(o, arg) for o, arg, _ in issued if o.traced and not o.error]
    tm = [(o, k) for o, k in traced if o.kind == "merge"]
    run.layer["tiers.merge_spark_jobs"] = _median(o.engine["jobs"] for o, _ in tm)
    run.layer["tiers.merge_bytes_written_per_token"] = _median(
        o.engine["output_bytes"] / inc_tokens[k] for o, k in tm)
    run.layer["tiers.merge_partitions_rewritten"] = _median(rewritten)
    tc = [o for o, _ in traced if o.kind == "compact"]
    run.layer["tiers.compact_s"] = _median(o.wall_s for o in tc)
    run.layer["tiers.files_before"] = _median(o.result["files_before"] for o in tc)
    run.layer["tiers.files_after"] = _median(o.result["files_after"] for o in tc)
    tr = [(o, q) for o, q in traced if o.kind == "read"]
    run.layer["tiers.read_input_bytes_per_query"] = _median(o.engine["input_bytes"] for o, _ in tr)
    run.layer["tiers.read_files_per_query"] = _median(read_files)
    run.layer["tiers.rows_scanned_per_row_returned"] = _median(
        o.engine["input_records"] / max(1, len(o.result)) for o, _ in tr)
    drill_ops = {s.op_id for s in run.tracer.spans if s.name == "op.drill"}
    for name, metric in (("zscore_flag", "qc.zscore_s"), ("interpolate_limited", "qc.interpolate_s"),
                         ("gap_runs", "qc.gap_runs_s"), ("series_view", "series_view.s")):
        run.layer[metric] = _median(s.duration for s in run.tracer.spans
                                    if s.name == name and s.op_id in drill_ops)


WORKLOADS = {"backfill": backfill, "trickle_mix": trickle_mix}
