"""The benchmark's workloads.

Each workload stages its inputs, runs an untimed warm-up pass, runs
timed operations, and checks every output outside the timers. Every
operation is cold: the persist registry and Spark's cache are
released, and the harness checks from outside
(``getPersistentRDDs``) that nothing stays persisted before the clock
starts.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import datagen


@dataclass
class Sample:
    """One timed operation."""

    op: str
    index: int
    latency_s: float = 0.0
    warm_s: float | None = None
    load_s: float | None = None
    flagship_s: float | None = None
    rows: int = 0
    error: str | None = None
    layers: dict = field(default_factory=dict)


def _error(exc: BaseException) -> str:
    last = traceback.format_exception_only(type(exc), exc)[-1].strip()
    return last[:500]


class Harness:
    """What a workload needs from the run: the session, the tracer and
    a clock that leaves the oracle checks out of ``setup_s``."""

    def __init__(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.excluded_s = 0.0
        self.problems: list[dict] = []  # failed warm-ups and output checks
        self.cold_violations: list[dict] = []

    @contextmanager
    def excluded(self):
        """Time spent inside is left out of ``setup_s``."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t

    def persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def bytes_held(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)

    def make_cold(self, op: str, index: int) -> float:
        """Release every persisted relation; return the seconds it took."""
        from rpa_etl_investing_spark.operators import caching

        t = time.perf_counter()
        caching.release_all()
        self.spark.catalog.clearCache()
        took = time.perf_counter() - t
        left = self.persisted()
        if left:
            self.cold_violations.append({"op": op, "index": index, "persisted_rdds": left})
        return took

    def group(self, tag: str) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(tag, tag)

    def phases(self, df) -> dict[str, float]:
        """Catalyst phase times in ms. The ``noop`` write plans a fresh
        QueryExecution, so the traced run forces optimization and
        physical planning on the held DataFrame's QueryExecution and
        reads all three phases from its tracker."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            p = phases.get(name)
            out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
        return out


class QueryWorkload:
    """Registry queries over a generated fixture, each run cold."""

    # a round slower than --seconds would otherwise leave one sample per
    # operation, and that one from the round nearest the warm-up
    min_rounds = 2

    def __init__(self, sf: float, ops: list[str], warm_repeat: bool) -> None:
        self.sf = sf
        self.ops = ops
        self.warm_repeat = warm_repeat
        self.failed_ops: set[str] = set()

    def describe(self) -> dict:
        return {"sf": self.sf, "ops": self.ops, "warm_repeat": self.warm_repeat}

    def stage(self, work_dir: str, seed: int) -> None:
        # the seed orders the operations; the fixture itself is fixed
        self.sf_dir = os.path.join(work_dir, f"sf{self.sf}")
        datagen.write_fixture(self.sf_dir, self.sf)
        self.rng = random.Random(seed)

    def warmup(self, h: Harness) -> None:
        """Run one round exactly as a timed round runs it (cold build and
        ``noop`` execution, then the warm repeat), so no first-use cost
        (codegen, JIT) lands in the timed rounds. Then collect each
        operation's result with the registry kept and compare it with its
        DuckDB oracle, with the set-up clock paused for the comparison. A
        failure or mismatch fails every timed run of that operation."""
        import parity
        from rpa_etl_investing_spark.plans import QUERIES

        for op in self.ops:
            query = QUERIES[op]
            try:
                with h.tracer.span("warmup", op=op):
                    self.run_op(h, op, -1, raise_errors=True)
                    got = query.fn(h.spark, self.sf_dir).toPandas()
            except Exception as exc:  # recorded and reported, never swallowed
                self.failed_ops.add(op)
                h.problems.append({"op": op, "check": "warmup", "error": _error(exc)})
                continue
            if query.oracle is None:
                continue
            with h.excluded():
                con = parity.duck_connection(self.sf_dir)
                try:
                    problems = parity.compare_frames(got, con.execute(query.oracle).df())
                finally:
                    con.close()
            if problems:
                self.failed_ops.add(op)
                h.problems.append({"op": op, "check": "oracle", "error": "; ".join(problems)[:500]})

    def rounds(self):
        while True:
            order = list(self.ops)
            self.rng.shuffle(order)
            yield order

    def start_round(self, h: Harness) -> None:
        pass

    def run_op(self, h: Harness, op: str, i: int, raise_errors: bool = False) -> Sample:
        from rpa_etl_investing_spark.plans import QUERIES

        s = Sample(op, i)
        release_s = h.make_cold(op, i)
        fn = QUERIES[op].fn
        try:
            with h.tracer.span("op", op=op, index=i) as root:
                h.group(f"{i}:build")
                with h.tracer.span("plans.build", parent=root):
                    df = fn(h.spark, self.sf_dir)
                if h.tracer.enabled:
                    with h.tracer.span("plans.phases", parent=root):
                        s.layers["phases_ms"] = h.phases(df)
                h.group(f"{i}:exec")
                with h.tracer.span("exec", parent=root):
                    df.write.format("noop").mode("overwrite").save()
            s.latency_s = root.duration
            if h.tracer.enabled:
                s.layers["build_s"] = root.child("plans.build")
                s.layers["exec_s"] = root.child("exec")
                s.layers["persisted_relations"] = h.persisted()
                s.layers["bytes_held"] = h.bytes_held()
            if self.warm_repeat:
                h.group(f"{i}:warm")
                t = time.perf_counter()
                fn(h.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
                s.warm_s = time.perf_counter() - t
        except Exception as exc:  # recorded and reported, never swallowed
            if raise_errors:
                raise
            s.error = _error(exc)
        s.layers["release_s"] = release_s
        return s

    def finish(self, h: Harness, samples: list[Sample]) -> None:
        for s in samples:
            if s.op in self.failed_ops and s.error is None:
                s.error = "output check failed"


class EtlWorkload:
    """The reference flow: a batch load into a star schema, followed by
    the flagship top-10 query. The warm-up loads the run's first two
    batches into its fresh warehouse: the first-run load (no dimensions
    yet) and one upsert. The warehouse is then copied aside. Every
    operation restores that copy (outside the timers) and upserts the
    same next batch, so every operation does the same work however fast
    the engine runs; the warm-up ends with one such operation, untimed,
    so no first-use cost (codegen, JIT) lands in the timed ones."""

    WARMUP_BATCHES = 2
    TIMED_BATCH = WARMUP_BATCHES  # brings a country the warm-up has not seen
    # a round is one load; the first loads after the warm-up still run
    # slower while the JVM's JIT settles, so the median needs five
    min_rounds = 5

    def __init__(self, rows: int) -> None:
        self.rows = rows
        self.batches: dict[int, datagen.RawBatch] = {}
        # timed operation index -> (load metrics, flagship rows)
        self.results: dict[int, tuple[dict, list]] = {}

    def describe(self) -> dict:
        return {"rows_per_batch": self.rows, "warmup_batches": self.WARMUP_BATCHES,
                "timed_batch": self.TIMED_BATCH}

    def stage(self, work_dir: str, seed: int) -> None:
        gen = datagen.RawBatches(seed, self.rows)
        self.raw_dir = os.path.join(work_dir, "raw")
        self.warehouse = os.path.join(work_dir, "warehouse")
        self.snapshot = os.path.join(work_dir, "warehouse-after-warmup")
        os.makedirs(self.raw_dir)
        for b in range(self.TIMED_BATCH + 1):
            self.batches[b] = gen.write(b, self._path(b))

    def _path(self, b: int) -> str:
        return os.path.join(self.raw_dir, f"batch_{b:03d}.parquet")

    def _load(self, h: Harness, b: int, tag: str, root=None):
        from rpa_etl_investing_spark import etl

        h.group(f"{tag}:load")
        raw = h.spark.read.parquet(self._path(b))
        with h.tracer.span("etl.load", parent=root) as load:
            metrics = etl.load_star_schema(
                h.spark, raw, self.warehouse, dt.datetime(2024, 1, 1) + dt.timedelta(days=b)
            )
        h.group(f"{tag}:flagship")
        with h.tracer.span("plans.build", parent=root) as build:
            df = etl.flagship_top10(h.spark, self.warehouse)
        if h.tracer.enabled:
            with h.tracer.span("plans.phases", parent=root):
                phases = h.phases(df)
        else:
            phases = {}
        with h.tracer.span("exec", parent=root) as ex:
            top = [tuple(r) for r in df.collect()]
        return metrics, top, load.duration, build.duration + ex.duration, phases

    def warmup(self, h: Harness) -> None:
        for b in range(self.TIMED_BATCH + 1):
            if b == self.TIMED_BATCH:
                with h.excluded():
                    shutil.copytree(self.warehouse, self.snapshot)
                    self.start_round(h)
            h.make_cold("load", -1)
            try:
                with h.tracer.span("warmup", op="load"):
                    self._load(h, b, f"warmup{b}")
            except Exception as exc:  # recorded and reported, never swallowed
                h.problems.append({"op": "load", "check": "warmup", "error": _error(exc)})

    def rounds(self):
        while True:
            yield ["load"]

    def start_round(self, h: Harness) -> None:
        shutil.rmtree(self.warehouse)
        shutil.copytree(self.snapshot, self.warehouse)

    def run_op(self, h: Harness, op: str, i: int) -> Sample:
        s = Sample(op, i)
        release_s = h.make_cold(op, i)
        try:
            with h.tracer.span("op", op=op, index=i) as root:
                metrics, top, s.load_s, s.flagship_s, phases = self._load(
                    h, self.TIMED_BATCH, str(i), root)
            s.latency_s = root.duration
            s.rows = metrics["clean_rows"] + metrics["rejected_rows"]
            self.results[i] = (metrics, top)
            s.layers.update(
                {
                    "release_s": release_s,
                    "phases_ms": phases,
                    "build_s": root.child("plans.build"),
                    "exec_s": root.child("exec"),
                    "rejected_rows": metrics["rejected_rows"],
                }
            )
            if h.tracer.enabled:
                s.layers["persisted_relations"] = h.persisted()
                s.layers["bytes_held"] = h.bytes_held()
        except Exception as exc:  # recorded and reported, never swallowed
            s.error = _error(exc)
            s.layers["release_s"] = release_s
        return s

    def finish(self, h: Harness, samples: list[Sample]) -> None:
        """Check every timed load against the generator's truth and the
        flagship result against DuckDB over the raw batches in the
        warehouse after it (the warm-up batches included)."""
        import duckdb
        from rpa_etl_investing_spark import etl

        loaded = [s for s in samples if s.error is None]
        if not loaded:
            return
        b = self.TIMED_BATCH
        truth = self.batches[b]
        got = etl.transform_raw(h.spark.read.parquet(self._path(b))).rejects.collect()
        if sorted(map(tuple, got), key=repr) != sorted(truth.rejects, key=repr):
            for s in loaded:
                s.error = "output check failed"
            h.problems.append({"op": "load", "error": f"rejects differ from generator: {len(got)} vs {len(truth.rejects)}"})
            return
        countries = set().union(*(self.batches[j].clean_countries for j in range(b + 1)))
        con = duckdb.connect()
        try:
            expected = [tuple(r) for r in con.execute(
                flagship_sql([self._path(j) for j in range(b + 1)])).fetchall()]
        finally:
            con.close()
        for s in loaded:
            metrics, top = self.results[s.index]
            bad = []
            if metrics["clean_rows"] != truth.rows - len(truth.rejects):
                bad.append(f"clean_rows={metrics['clean_rows']} != {truth.rows - len(truth.rejects)}")
            if metrics["rejected_rows"] != len(truth.rejects):
                bad.append(f"rejected_rows={metrics['rejected_rows']} != {len(truth.rejects)}")
            if metrics["pais_rows"] != len(countries):
                bad.append(f"pais_rows={metrics['pais_rows']} != {len(countries)} countries seen")
            if top != expected:
                bad.append(f"flagship top-10 differs from DuckDB: {top[:2]} vs {expected[:2]}")
            if bad:
                s.error = "output check failed"
                h.problems.append({"op": s.op, "index": s.index, "error": "; ".join(bad)[:500]})


def _parse(col: str) -> str:
    return f"TRY_CAST(REPLACE(REPLACE(TRIM({col}), '.', ''), ',', '.') AS DOUBLE)"


def flagship_sql(paths: list[str]) -> str:
    """DuckDB twin of load + ``flagship_top10`` over raw batches."""
    from rpa_etl_investing_spark.etl import sector_maps as sm

    def case(col: str, mapping: dict[str, str], default: str) -> str:
        arms = " ".join(f"WHEN {col} = '{k}' THEN '{v}'" for k, v in mapping.items())
        return f"COALESCE(CASE {arms} END, '{default}')"

    files = ", ".join(f"'{p}'" for p in paths)
    pct = "REPLACE(REPLACE(TRIM(variacao_raw), '+', ''), '%', '')"
    return f"""
      WITH p AS (
        SELECT TRIM(nome) AS nome, {_parse('valor_atual_raw')} AS v,
               {_parse('maxima_raw')} AS maxima, {_parse('minima_raw')} AS mi,
               {_parse(pct)} AS va, pais
        FROM read_parquet([{files}]))
      SELECT nome, pais, setor, maxima FROM (
        SELECT nome, pais, maxima,
               CASE WHEN pais = 'Brasil'
                    THEN {case('nome', sm.SECTOR_BY_BRAZIL_INDEX, sm.DEFAULT_SECTOR_BRAZIL)}
                    ELSE {case('pais', sm.SECTOR_BY_COUNTRY, sm.DEFAULT_SECTOR_OTHER)} END AS setor
        FROM p
        WHERE nome IS NOT NULL AND v IS NOT NULL AND maxima IS NOT NULL
          AND mi IS NOT NULL AND va IS NOT NULL)
      WHERE setor = 'Primário' AND pais IN ('China', 'EUA')
      ORDER BY maxima DESC, nome ASC LIMIT 10"""


ANALYST_OPS = [
    "etl_flagship_star",
    "flagship_topk",
    "join_star_broadcast",
    "agg_pricing_summary",
    "window_topk_per_group",
    "asof_join_last_purchase",
    "analytics_shipping_priority",
    "etl_duplicate_payment_scan",
    "datetime_bucket_agg",
    "join_semi",
    "agg_rollup",
    "timeseries_ohlc_resample",
]

# the persist-registry users (MinHash, SimHash, IVF), the mapInPandas
# users (heavy hitters, media decode and resize) and the IVF-PQ ADC
# search, whose cost sits between the two groups so the median does not
# fall into the gap between them
LLM_OPS = [
    "llm_minhash_pairs",
    "llm_simhash64_hamming_pairs",
    "llm_similarity_ivf",
    "llm_ivfpq_adc_search",
    "llm_heavy_hitters",
    "multimodal_decode_meta",
    "multimodal_resize",
]


def make(name: str, smoke: bool = False):
    """Build workload ``name``; ``smoke`` shrinks every input to sf0.001.

    ``analyst_cold`` is not in BENCHMARK.json (see README.md) but stays
    runnable by hand as the executor-bound control."""
    if name == "analyst_cold":
        return QueryWorkload(0.001 if smoke else 0.1, ANALYST_OPS, warm_repeat=False)
    if name == "llm_text":
        return QueryWorkload(0.001 if smoke else 0.01, LLM_OPS, warm_repeat=True)
    if name == "etl_load":
        return EtlWorkload(2_000 if smoke else 20_000)
    raise KeyError(f"unknown workload {name!r}; expected llm_text, etl_load or analyst_cold")
