"""The benchmark's workloads. Each is driven by one closed-loop client:
the next operation starts when the previous one returns.

A workload prepares its seeded inputs, sets up a session, then runs
*rounds* — a fixed composition of operations — while the measured
window lasts. Each operation is timed by `Recorder.op`; its output is
kept and checked after the window. Span names are the layer names the
per-layer metrics are built from.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict

from . import checks, inputs
from .common import tree_cpu_s
from .trace import Spans

JACCARD = 0.8
MAX_HAMMING = 3
MAX_BUCKET = 200  # small enough that the corpus's boilerplate cluster overflows it


class Recorder:
    """Times operations (wall and process-tree CPU seconds), keeps their
    outputs, and counts failures. A failed operation adds to `errors`,
    never to the samples."""

    def __init__(self, spark, spans: Spans, tag: str) -> None:
        self.spark = spark
        self.spans = spans
        self.tag = tag
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.cpu: dict[str, list[float]] = defaultdict(list)
        self.outputs: list[tuple[str, object, object]] = []  # kind, key, output
        self.groups: dict[str, str] = {}  # job group -> op kind
        self.rounds: list[float] = []
        self.round_cpu: list[float] = []
        self.attempted = 0
        self.errors: list[str] = []

    def op(self, kind: str, key, fn):
        self.attempted += 1
        group = f"{self.tag}-{self.attempted}"
        self.groups[group] = kind
        self.spark.sparkContext.setJobGroup(group, f"{kind} {key}")
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # a failed operation is counted, not fatal
            self.errors.append(f"{kind} {key}: {type(e).__name__}: {e}")
            return None
        self.samples[kind].append(time.perf_counter() - t0)
        self.cpu[kind].append(tree_cpu_s() - c0)
        self.outputs.append((kind, key, out))
        return out


def _plan(df, spans: Spans) -> None:
    """Traced runs only: force planning and record Catalyst's phase
    times from the query's own QueryPlanningTracker."""
    if not spans.enabled:
        return
    with spans.span("plan"):
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase, metric in (("analysis", "plan.analysis_s"),
                              ("optimization", "plan.optimization_s"),
                              ("planning", "plan.physical_s")):
            opt = phases.get(phase)
            if opt.isDefined():
                spans.count(metric, opt.get().durationMs() / 1000.0)
        spans.count("plan.planned", 1)


def _plans(df, spans: Spans) -> None:
    """Traced runs only: the plans layer's shape counters."""
    if not spans.enabled:
        return
    from rust_query_engine_greatest_spark.plans import explain

    with spans.span("plans"):
        spans.count("plans.shuffle_exchanges", explain.count_shuffle_exchanges(df))
        spans.count("plans.broadcasts", len(explain.broadcast_subtrees(df)))
        spans.count("plans.explained", 1)


class Workload:
    kinds: tuple[str, ...] = ()  # op kinds this workload issues
    layout = ""

    def __init__(self, work: str, seed: int) -> None:
        """`work` is the checkout's work root for cached and temporary files."""
        self.seed = seed

    def prepare_inputs(self) -> None: ...

    def round(self, rec: Recorder) -> None:
        raise NotImplementedError

    def references(self, spark, traced: bool) -> None:
        """Compute what check_one compares against (outside the window);
        `traced` adds the cross-checks only the traced run pays for."""

    def check_one(self, kind: str, key, out) -> list[str]:
        """Failures of one operation's output (empty when right)."""
        raise NotImplementedError

    def layer_extras(self, rec: Recorder) -> dict[str, float]:
        """Workload-specific per-layer figures not derived from spans."""
        return {}

    def setup(self, spark) -> None:
        """One-time set-up on a fresh session, timed into `setup_s`."""

    def human(self, rec: Recorder) -> dict[str, tuple[float, str, int]]:
        """Workload-specific end-to-end figures: name -> (value, unit, samples)."""
        return {}

    def cleanup(self) -> None: ...


# ---- TPC-H -----------------------------------------------------------------------

class Tpch(Workload):
    """q1-q22 over dbgen parquet with catalog statistics; one round is
    one pass in a seeded order."""

    kinds = ("query",)
    SF = 0.01
    layout = f"tpch sf{SF:g} raw parquet + catalog stats"

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        self.data = os.path.join(work, f"tpch_sf{self.SF:g}")
        self.passes = inputs.query_passes(seed)
        self.oracle: dict[str, list[tuple]] = {}
        self.stats_s: list[float] = []  # one per session set up

    def prepare_inputs(self) -> None:
        inputs.ensure_tpch(self.data, self.SF)

    def setup(self, spark) -> None:
        from rust_query_engine_greatest_spark.sources import stats

        t0 = time.perf_counter()
        stats.activate(spark, self.data)
        self.stats_s.append(time.perf_counter() - t0)

    def layer_extras(self, rec: Recorder) -> dict[str, float]:
        # the first activation is the one inside setup_s
        return {"sources.stats_activate_s": self.stats_s[0]}

    def round(self, rec: Recorder) -> None:
        from rust_query_engine_greatest_spark.queries import REGISTRY

        spark, spans = rec.spark, rec.spans
        for name in next(self.passes):
            def run(name=name):
                with spans.span("queries.build"):
                    df = REGISTRY[name].build(spark, self.data)
                _plan(df, spans)
                with spans.span("exec"):
                    rows = [tuple(r) for r in df.collect()]
                _plans(df, spans)
                return df.columns, rows
            rec.op("query", name, run)

    def references(self, spark, traced: bool) -> None:
        import duckdb

        from rust_query_engine_greatest_spark.queries import REGISTRY

        con = duckdb.connect()
        try:
            con.execute("SET threads=2")
            for t in inputs.TPCH_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data}/{t}.parquet')")
            for name in inputs.TPCH_QUERIES:
                res = con.execute(REGISTRY[name].oracle)
                cols = [d[0] for d in res.description]
                self.oracle[name] = checks.normalize_result(cols, res.fetchall())
        finally:
            con.close()

    def check_one(self, kind: str, name, out) -> list[str]:
        cols, rows = out
        return checks.compare_result(name, checks.normalize_result(cols, rows),
                                     self.oracle[name])

    def human(self, rec: Recorder) -> dict:
        empty = sorted(name for name, rows in self.oracle.items() if not rows)
        n = len(rec.samples["query"])
        wall = sum(rec.rounds)
        return {"queries_per_s": (n / wall if wall else 0.0, "1/s", n),
                "empty_oracle_queries": (len(empty), "count", len(self.oracle))}


# ---- dedup ingest -----------------------------------------------------------------------

def _keep(text_col: str):
    from pyspark.sql import functions as F

    from rust_query_engine_greatest_spark.pipeline import text

    return (text.quality_score(text_col) >= 0.9) & (text.lang_id(text_col) == F.lit("en"))


class DedupIngest(Workload):
    """One round: build and write both near-dup indexes over 90% of the
    corpus, probe the held-out 10% against the read-back indexes, then
    one full filter -> MinHash -> SimHash pass over the whole corpus.

    Every program call here costs seconds of fixed driver-side work
    whatever the corpus size, so the corpus is small and the held-out
    10% is one probe batch: a run must stay near a minute."""

    kinds = ("index_build", "probe", "full_pass")
    layout = "parquet corpus, rebalanced index files"
    N_DOCS = 800
    BATCH = 80

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        self.dir = os.path.join(work, f"dedup-{seed}-{os.getpid()}")
        self.corpus: inputs.Corpus | None = None
        self.ref: dict = {}

    def _path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def prepare_inputs(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.corpus = inputs.make_corpus(self.seed, self.N_DOCS, 0.15, MAX_BUCKET, self.BATCH)
        os.makedirs(self.dir, exist_ok=True)
        text = dict(self.corpus.docs)

        def write(name: str, ids: list[int]) -> None:
            pq.write_table(pa.table({"id": pa.array(ids, pa.int64()),
                                     "text": pa.array([text[i] for i in ids])}),
                           self._path(name))

        write("corpus.parquet", [d for d, _ in self.corpus.docs])
        write("indexed.parquet", self.corpus.indexed)
        for k, batch in enumerate(self.corpus.held_out):
            write(f"batch-{k:03d}.parquet", batch)

    def round(self, rec: Recorder) -> None:
        from rust_query_engine_greatest_spark.pipeline import dedup

        spark, spans = rec.spark, rec.spans
        indexed = spark.read.parquet(self._path("indexed.parquet"))
        idx_m, idx_s = self._path("idx_minhash"), self._path("idx_simhash")

        def build():
            with spans.span("sources.index_write"):
                dedup.write_index(dedup.minhash_index_rows(indexed, "id", "text"), idx_m)
                dedup.write_index(dedup.simhash_index_rows(indexed, "id", "text"), idx_s)
            if spans.enabled:
                for d in (idx_m, idx_s):
                    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
                    spans.count("sources.index_files", len(files))
                    spans.count("sources.index_bytes",
                                sum(os.path.getsize(os.path.join(d, f)) for f in files))
        rec.op("index_build", "minhash+simhash", build)

        for k in range(len(self.corpus.held_out)):
            def probe(k=k):
                batch = spark.read.parquet(self._path(f"batch-{k:03d}.parquet"))
                read_m, read_s = spark.read.parquet(idx_m), spark.read.parquet(idx_s)
                with spans.span("dedup.probe"):
                    m = dedup.minhash_index_probe(batch, read_m, "id", "text")
                    s = dedup.simhash_index_probe(batch, read_s, "id", "text",
                                                  max_hamming=MAX_HAMMING)
                    out = ([tuple(r) for r in m.collect()], [tuple(r) for r in s.collect()])
                spans.count("dedup.probe_candidates", len(out[0]) + len(out[1]))
                return out
            rec.op("probe", k, probe)

        def full_pass():
            docs = spark.read.parquet(self._path("corpus.parquet"))
            with spans.span("text.filter"):
                docs.filter(_keep("text")).write.mode("overwrite").parquet(
                    self._path("filtered"))
            kept = spark.read.parquet(self._path("filtered"))
            with spans.span("dedup.minhash"):
                m_df = dedup.minhash_lsh_pairs(kept, "id", "text", threshold=JACCARD,
                                               max_bucket=MAX_BUCKET)
                _plan(m_df, spans)
                m = [tuple(r) for r in m_df.collect()]
            with spans.span("dedup.simhash"):
                s_df = dedup.simhash_pairs(kept, "id", "text", max_hamming=MAX_HAMMING,
                                           max_bucket=MAX_BUCKET)
                _plan(s_df, spans)
                s = [tuple(r) for r in s_df.collect()]
            spans.count("dedup.verified", len(m))
            return m, s
        rec.op("full_pass", "corpus", full_pass)

    def references(self, spark, traced: bool) -> None:
        """Everything the checks compare against: shingle sets (Python),
        each document's MinHash band keys and SimHash fingerprint (the
        program's index rows, which are per document) and the filter
        survivors. A traced run also cross-checks the program's own
        accounting — bucket_overflow, simhash_overflow and the unverified
        candidate count — against the band keys."""
        from pyspark.sql import functions as F

        from rust_query_engine_greatest_spark.pipeline import dedup

        ref = self.ref
        sh = ref["sh"] = {d: checks.shingles(t) for d, t in self.corpus.docs}
        docs = spark.read.parquet(self._path("corpus.parquet"))
        kept = docs.filter(_keep("text"))

        # one action for all three inputs: each call's fixed cost is
        # seconds, the data is a few thousand rows
        def tagged(df, tag, id_, band, val, fp):
            return df.select(id_.cast("long").alias("id"), F.lit(tag).alias("tag"),
                             band.cast("long").alias("band"), val.cast("long").alias("val"),
                             fp.cast("long").alias("fp"))
        none = F.lit(None)
        rows = (
            tagged(dedup.minhash_index_rows(docs, "id", "text"), "m", F.col("id"),
                   F.col("band_id"), F.col("band_hash"), none)
            .unionByName(tagged(dedup.simhash_index_rows(docs, "id", "text"), "s",
                                F.col("id"), F.col("band_id"), F.col("band_val"), F.col("fp")))
            .unionByName(tagged(kept, "k", F.col("id"), none, none, none))
            .collect())
        m_keys = ref["m_keys"] = defaultdict(set)
        fps = ref["fps"] = {}
        s_keys = defaultdict(set)
        surv = []
        for r in rows:
            if r.tag == "m":
                m_keys[r.id].add((r.band, r.val))
            elif r.tag == "s":
                fps[r.id] = r.fp
                s_keys[(r.band, r.val)].add(r.id)
            else:
                surv.append(r.id)
        surv.sort()

        # full-pass MinHash: every pair sharing a bucket the guard keeps
        # (buckets of at most MAX_BUCKET survivors), verified by exact Jaccard
        buckets = defaultdict(list)
        for d in surv:
            for key in m_keys[d]:
                buckets[key].append(d)
        hot_m = {k for k, ids in buckets.items() if len(ids) > MAX_BUCKET}
        cand = {(a, b) for k, ids in buckets.items() if k not in hot_m
                for i, a in enumerate(ids) for b in ids[i + 1:]}
        ref["want_m"] = {p for p in cand if checks.jaccard(sh[p[0]], sh[p[1]]) >= JACCARD}
        # full-pass SimHash: every pair within the radius (pigeonhole),
        # except pairs inside a band bucket large enough to trip the guard
        s_surv = set(surv)
        hot_s = {k: ids & s_surv for k, ids in s_keys.items() if len(ids & s_surv) > MAX_BUCKET}
        ref["want_s"] = {p for p in checks.close_pairs(fps, surv, surv, MAX_HAMMING)
                         if not any(p[0] in g and p[1] in g for g in hot_s.values())}
        ref["hot_buckets"] = len(hot_m) + len(hot_s)
        ref["candidates"] = len(cand)
        ref["guard_problems"] = []
        if traced:
            reported_m = {(r.band_id, r.band_hash) for r in dedup.bucket_overflow(
                dedup.minhash_index_rows(kept, "id", "text"), ["band_id", "band_hash"],
                MAX_BUCKET).collect()}
            if reported_m != hot_m:
                ref["guard_problems"].append(f"bucket_overflow reports {len(reported_m)} "
                                             f"hot buckets, band keys give {len(hot_m)}")
            reported_s = dedup.simhash_overflow(kept, "id", "text", MAX_HAMMING,
                                                max_bucket=MAX_BUCKET).collect()
            if not {(r.band_id, r.band_val) for r in reported_s} <= set(hot_s):
                ref["guard_problems"].append("simhash_overflow reports a cell outside "
                                             "every oversized band bucket")
            ref["hot_buckets"] = len(reported_m) + len(reported_s)
            n = dedup.minhash_lsh_pairs(kept, "id", "text", verify=False,
                                        max_bucket=MAX_BUCKET).count()
            if n != len(cand):
                ref["guard_problems"].append(f"minhash_lsh_pairs(verify=False) gives {n} "
                                             f"candidates, band keys give {len(cand)}")

        ref["planted"] = {(a, b) for cl in self.corpus.clusters
                          for i, a in enumerate(cl) for b in cl[i + 1:]
                          if a in s_surv and b in s_surv
                          and checks.jaccard(sh[a], sh[b]) >= JACCARD}
        ref["indexed_keys"] = defaultdict(set)
        for d in self.corpus.indexed:
            for key in m_keys[d]:
                ref["indexed_keys"][key].add(d)

    def _want_probe(self, batch: list[int]) -> tuple[set, set]:
        """Expected probe output: every indexed document sharing a MinHash
        band key with a batch document; every SimHash pair within the
        radius (the probe has no guard)."""
        keys = self.ref["indexed_keys"]
        want_m = {(b, c) for b in batch for k in self.ref["m_keys"][b]
                  for c in keys.get(k, ())}
        want_s = checks.close_pairs(self.ref["fps"], batch, self.corpus.indexed, MAX_HAMMING)
        return want_m, want_s

    def check_one(self, kind: str, key, out) -> list[str]:
        """Exact checks: every reported pair is re-scored, and the pair
        sets must equal what the band keys imply (full-pass SimHash: at
        least every pair within the radius outside oversized band buckets)."""
        if kind == "index_build":
            return []  # the probes read these indexes back and check them
        sh, fps = self.ref["sh"], self.ref["fps"]
        m, s = out
        if kind == "full_pass":
            want_m, want_s = self.ref["want_m"], self.ref["want_s"]
            fails = list(self.ref["guard_problems"])
            fails += checks.check_jaccard_pairs("minhash_lsh_pairs", m, sh, JACCARD)
            fails += checks.check_pair_set("minhash_lsh_pairs", {(a, b) for a, b, _ in m},
                                           want_m, exact=True)
            name_s = "simhash_pairs"
        else:
            want_m, want_s = self._want_probe(self.corpus.held_out[key])
            fails = checks.check_pair_set(f"minhash_index_probe[{key}]", set(m), want_m,
                                          exact=True)
            name_s = f"simhash_index_probe[{key}]"
        fails += checks.check_hamming_pairs(name_s, s, fps, MAX_HAMMING)
        fails += checks.check_pair_set(name_s, {(a, b) for a, b, _ in s}, want_s,
                                       exact=kind != "full_pass")
        return fails

    def layer_extras(self, rec: Recorder) -> dict[str, float]:
        return {"dedup.candidates": self.ref["candidates"],
                "dedup.hot_buckets": self.ref["hot_buckets"],
                "dedup.precision": self._precision(rec),
                "dedup.planted_recall": self._recall(rec)}

    def _recall(self, rec: Recorder) -> float:
        found = [len(self.ref["planted"] & {(a, b) for a, b, _ in out[0]})
                 for kind, _, out in rec.outputs if kind == "full_pass"]
        planted = len(self.ref["planted"])
        return statistics.median(found) / planted if found and planted else 0.0

    def human(self, rec: Recorder) -> dict:
        passes = rec.samples["full_pass"]
        builds = rec.samples["index_build"]
        out = {"dedup_docs_per_s": (self.N_DOCS / statistics.median(passes) if passes else 0.0,
                                    "1/s", len(passes)),
               "index_build_s": (statistics.median(builds) if builds else 0.0, "s", len(builds)),
               "hot_buckets": (self.ref.get("hot_buckets", 0), "count", 1),
               "precision": (self._precision(rec), "ratio", 1),
               "planted_recall": (self._recall(rec), "ratio", len(self.ref["planted"]))}
        return out

    def _precision(self, rec: Recorder) -> float:
        verified = [len(out[0]) for kind, _, out in rec.outputs if kind == "full_pass"]
        cand = self.ref.get("candidates", 0)
        return statistics.median(verified) / cand if verified and cand else 0.0

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


# ---- run_greatest -----------------------------------------------------------------------

class GreatestApi(Workload):
    """One round: CALLS_PER_SHAPE run_greatest calls on each column
    shape (ints with a boolean column, floats with NaN, date beside
    timestamps, strings)."""

    kinds = ("call",)
    layout = "python lists"
    ROWS = 4000
    CALLS_PER_SHAPE = 1

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        self.cols: dict[tuple[str, int], list[list]] = {}
        self.want: dict[tuple[str, int], list] = {}

    def prepare_inputs(self) -> None:
        for shape in inputs.GREATEST_SHAPES:
            for k in range(self.CALLS_PER_SHAPE):
                cols = inputs.make_columns(self.seed, shape, self.ROWS, k)
                self.cols[(shape, k)] = cols
                self.want[(shape, k)] = checks.greatest_reference(cols)

    def round(self, rec: Recorder) -> None:
        from rust_query_engine_greatest_spark.functions import api

        for key, cols in self.cols.items():
            def call(cols=cols):
                with rec.spans.span("functions.run_greatest"):
                    return api.run_greatest(cols, rec.spark)
            rec.op("call", key, call)

    def check_one(self, kind: str, key, out) -> list[str]:
        return checks.check_greatest(f"run_greatest{key}", out, self.want[key])

    def human(self, rec: Recorder) -> dict:
        n = len(rec.samples["call"])
        busy = sum(rec.samples["call"])
        return {"greatest_rows_per_s": (n * self.ROWS / busy if busy else 0.0, "1/s", n)}


class Mix(Workload):
    """Several workloads' rounds run back to back on one session."""

    def __init__(self, work: str, seed: int, parts: list[type[Workload]]) -> None:
        super().__init__(work, seed)
        self.parts = [p(work, seed) for p in parts]
        self.kinds = tuple(k for p in self.parts for k in p.kinds)
        self.layout = "; ".join(p.layout for p in self.parts)

    def _owner(self, kind: str) -> Workload:
        return next(p for p in self.parts if kind in p.kinds)

    def prepare_inputs(self) -> None:
        for p in self.parts:
            p.prepare_inputs()

    def round(self, rec: Recorder) -> None:
        for p in self.parts:
            p.round(rec)

    def references(self, spark, traced: bool) -> None:
        for p in self.parts:
            p.references(spark, traced)

    def check_one(self, kind: str, key, out) -> list[str]:
        return self._owner(kind).check_one(kind, key, out)

    def layer_extras(self, rec: Recorder) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.layer_extras(rec).items()}

    def setup(self, spark) -> None:
        for p in self.parts:
            p.setup(spark)

    def human(self, rec: Recorder) -> dict:
        return {k: v for p in self.parts for k, v in p.human(rec).items()}

    def cleanup(self) -> None:
        for p in self.parts:
            p.cleanup()


WORKLOADS = {
    "serving": lambda work, seed: Mix(work, seed, [Tpch, GreatestApi]),
    "dedup_ingest": DedupIngest,
}
