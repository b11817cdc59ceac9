"""The two workloads: decks of registry queries, one of them mixed with
ETL upsert batches.

Rules every workload keeps (see README.md for the measurements behind
them):
- warm-up runs a fixed number of whole passes before any op is timed;
- a run times whole passes, so its mix is the deck's mix exactly;
- a deck's composition is fixed: the seed changes the data and the
  order of ops within a pass, never which ops a pass holds;
- the ETL target is restored to the same snapshot before every batch.
"""

from __future__ import annotations

import os
import pickle
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import datagen

ETL_OP = "run_marvel_batch"


@dataclass(frozen=True)
class Deck:
    sf: float
    weights: dict[str, int]  # query (or ETL_OP) -> ops per pass
    warmup_passes: int
    # Timed ops per run, in whole passes. Set so that it, not --seconds,
    # ends a run: the sample count, the tail's percentile and the point on
    # the warm-up curve where timing stops are then the same in every run.
    # 25 ops or more keep the tail above p50.
    min_ops: int


DECKS = {
    # Search and point lookups dominate, as on a catalog site. The weights
    # put p50 well inside the cluster of 24 cheap search ops (55-75 ms)
    # and the tail among the 145-185 ms queries, not in a gap between two
    # clusters.
    "serve_catalog": Deck(0.01, {
        "search_substring": 8, "relevance_search": 16, "keyed_scan": 3,
        "prefix_crawl": 1, "stats_topk": 1, "top_customer_per_nation": 1,
        "order_sequence": 1, "segment_totals": 1, "orphan_count": 1,
        "quality_metrics": 1}, warmup_passes=5, min_ops=204),
    # The back office: UDF- and shuffle-heavy analytics plus upsert batches,
    # whose ops all take 0.4-0.9 s. One warm-up pass takes the steep fall
    # in pass time that follows the cold pass.
    "analytics_etl": Deck(0.03, {
        "token_counts": 1, "doc_quality": 1, "bpe_tokenize": 1,
        "simhash_det": 1, "simhash_pairs": 1, "set_sim_prefix": 1,
        "url_dedup": 1, "image_dedup": 1, "percentile_profile": 1,
        "winsorize": 1, "ann_ivf_pq_det": 1, "stream_session_window": 1,
        "image_decontaminate_wide": 1, ETL_OP: 3}, warmup_passes=1, min_ops=32),
}


def deck_pass(deck: Deck, seed: int, pass_no: int) -> list[str]:
    """One pass: every op ``weight`` times, in a seeded order."""
    ops = [q for q, w in sorted(deck.weights.items()) for _ in range(w)]
    random.Random(f"{seed}/{pass_no}").shuffle(ops)
    return ops


@dataclass
class Timing:
    samples: list[float] = field(default_factory=list)  # seconds per successful timed op
    per_query: dict[str, int] = field(default_factory=dict)  # timed ops attempted per query
    failures: dict[str, int] = field(default_factory=dict)  # timed ops failed per query
    wall_s: float = 0.0  # time spent inside timed calls

    @property
    def attempted(self) -> int:
        return sum(self.per_query.values())

    def failed(self, wrong: list[str]) -> int:
        """Failed ops, counting every op of a query in ``wrong`` (one the
        correctness gate rejected) as failed."""
        return sum(n if q in wrong else self.failures.get(q, 0)
                   for q, n in self.per_query.items())


def _guarded(fn) -> tuple[float, bool]:
    start = time.perf_counter()
    try:
        fn()
        ok = True
    except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        ok = False
    return time.perf_counter() - start, ok


class Workload:
    """A deck's passes. ETL_OP entries run a batch of ``etl``. The cold
    pass writes each query's collected result to ``results_dir``."""

    def __init__(self, spark, deck: Deck, sf_dir: str, seed: int, results_dir: str,
                 etl=None):
        from comix_etl_spark.plans.queries import QUERIES

        self.spark, self.deck, self.sf_dir, self.seed = spark, deck, sf_dir, seed
        self.results_dir = results_dir
        self.etl = etl
        self.queries = QUERIES
        self.collected: set[str] = set()  # queries whose result is in results_dir
        self.pass_no = 0
        self.tracer = None

    def _noop(self, name: str) -> None:
        self.queries[name].builder(self.spark, self.sf_dir) \
            .write.format("noop").mode("overwrite").save()

    def _traced(self, name: str) -> None:
        tr = self.tracer
        with tr.op(query=name) as rec:
            with tr.span("plans.build"):
                df = self.queries[name].builder(self.spark, self.sf_dir)
            with tr.span("exec"):
                df.write.format("noop").mode("overwrite").save()
            tr.record_phases(rec, df)

    def _collect(self, name: str) -> None:
        # written out at once: the oracle child checks the rows, so the
        # driver holds none of them while its memory is measured
        df = self.queries[name].builder(self.spark, self.sf_dir)
        rows = [tuple(r) for r in df.collect()]
        with open(os.path.join(self.results_dir, f"{name}.pkl"), "wb") as fh:
            pickle.dump((df.columns, rows), fh)
        self.collected.add(name)

    def _run_op(self, name: str, cold: bool = False) -> tuple[float, bool]:
        if name == ETL_OP:
            self.etl.tracer = self.tracer
            return self.etl.one_batch()
        if cold and name not in self.collected:
            # the set-up pass collects each query once, for the correctness gate
            return _guarded(lambda: self._collect(name))
        op = self._traced if self.tracer else self._noop
        return _guarded(lambda: op(name))

    def _pass(self, cold: bool = False):
        """Run the next pass; yields (op, seconds, ok) per op."""
        for name in deck_pass(self.deck, self.seed, self.pass_no):
            yield (name, *self._run_op(name, cold))
        self.pass_no += 1

    def cold_pass(self) -> None:
        if self.etl:
            self.etl.preload()
        list(self._pass(cold=True))

    def warm(self) -> None:
        for _ in range(self.deck.warmup_passes):
            start = time.perf_counter()
            list(self._pass())
            print(f"warm-up pass {time.perf_counter() - start:.3f} s", file=sys.stderr)

    def _timed_pass(self, t: Timing) -> None:
        start = time.perf_counter()
        for name, dur, ok in self._pass():
            t.per_query[name] = t.per_query.get(name, 0) + 1
            t.wall_s += dur
            if ok:
                t.samples.append(dur)
            else:
                t.failures[name] = t.failures.get(name, 0) + 1
        print(f"timed pass {time.perf_counter() - start:.3f} s", file=sys.stderr)

    def timed(self, seconds: float, min_ops: int) -> Timing:
        """Whole passes until ``seconds`` of timed calls and ``min_ops`` ops."""
        t = Timing()
        while t.wall_s < seconds or t.attempted < min_ops:
            self._timed_pass(t)
        return t

    def timed_ab(self, seconds: float, min_ops: int, tracer) -> tuple[Timing, Timing]:
        """Untraced and traced passes in untraced-traced-traced-untraced
        blocks, until the traced window holds ``seconds`` of timed calls
        and ``min_ops`` ops. Both windows then sit at the same warm-up
        stage, so their ratio is the tracing overhead alone: the blocks
        cancel a steady fall in pass time."""
        plain, traced = Timing(), Timing()
        while traced.wall_s < seconds or traced.attempted < min_ops:
            for on in (False, True, True, False):
                if not on:
                    self._timed_pass(plain)
                    continue
                tracer.install()
                self.tracer = tracer
                try:
                    self._timed_pass(traced)
                finally:
                    self.tracer = None
                    tracer.uninstall()
        return plain, traced


# --- ETL upsert ---------------------------------------------------------

ETL_TARGET_ROWS = 20_000
ETL_BATCH = 2_000
ETL_POOL = 8  # distinct batches, written before Spark starts and cycled


class EtlWorkload:
    """``run_marvel_batch`` against a preloaded issues table, restored to the
    same snapshot before every batch so each batch does the same work."""

    def __init__(self, spark, work: str, seed: int, *,
                 n_target: int = ETL_TARGET_ROWS, batch_size: int = ETL_BATCH):
        self.spark, self.work = spark, work
        self.n_target, self.batch_size = n_target, batch_size
        self.target = os.path.join(work, "issues")
        self.snapshot = os.path.join(work, "issues_snapshot")
        self.audit = os.path.join(work, "etl_run")
        self.seed = seed
        self.batch_no = 0
        self.batches_run = 0
        self.tracer = None
        self.rows_before: list[int] = []  # target rows before each batch
        os.makedirs(work, exist_ok=True)
        recs = datagen.preload_records(seed, n_target)
        self.preload_path = os.path.join(work, "preload.jsonl")
        self.payload_bytes = datagen.write_jsonl(recs, self.preload_path)
        # (path, payload bytes per id); the records themselves are made
        # again from the seed for the check, so the driver keeps none
        self.pool = []
        for i in range(ETL_POOL):
            batch = datagen.batch_records(seed, i, n_target, batch_size)
            path = os.path.join(work, f"batch-{i}.jsonl")
            self.pool.append((path, datagen.write_jsonl(batch, path)))
        self.last: int | None = None  # pool index of the latest batch

    def _run(self, path: str, n: int) -> None:
        from comix_etl_spark.pipeline import run_marvel_batch
        from comix_etl_spark.sources.json_source import read_marvel_comics

        raw = read_marvel_comics(self.spark, path)
        res = run_marvel_batch(self.spark, raw, target_path=self.target,
                               audit_path=self.audit, expected_min=n)
        self.batches_run += 1
        if res.status != "SUCCESS" or res.records_read != n:
            raise RuntimeError(f"batch {path}: {res}")

    def preload(self) -> None:
        self._run(self.preload_path, self.n_target)
        shutil.copytree(self.target, self.snapshot)

    def _next_batch(self) -> tuple[str, int]:
        """Restore the target from the snapshot (untimed) and pick the
        next batch of the pool."""
        shutil.rmtree(self.target)
        shutil.copytree(self.snapshot, self.target)
        self.rows_before.append(self.target_rows())
        self.last = self.batch_no % len(self.pool)
        self.batch_no += 1
        path, sizes = self.pool[self.last]
        return path, sum(sizes.values())

    def one_batch(self) -> tuple[float, bool]:
        """One timed batch; the restore before it is not timed."""
        path, nbytes = self._next_batch()
        if self.tracer:
            with self.tracer.op(batch_bytes=nbytes):
                with self.tracer.span("pipeline"):
                    return _guarded(lambda: self._run(path, self.batch_size))
        return _guarded(lambda: self._run(path, self.batch_size))

    def target_rows(self) -> int:
        import pyarrow.parquet as pq

        return sum(pq.read_metadata(os.path.join(self.target, f)).num_rows
                   for f in os.listdir(self.target) if f.endswith(".parquet"))

    def check(self) -> list[str]:
        """Compare the table and audit with the reference model; returns
        the problems found."""
        import pyarrow.parquet as pq

        preload = datagen.preload_records(self.seed, self.n_target)
        model = {r[0]: r for r in map(datagen.normalize, preload)}
        batch = datagen.batch_records(self.seed, self.last, self.n_target, self.batch_size)
        expected = datagen.upsert_model(model, batch)
        table = pq.read_table(self.target).select(list(datagen.MARVEL_COLUMNS))
        got = {row[0]: row for row in zip(*(c.to_pylist() for c in table.columns))}
        problems = []
        if set(self.rows_before) != {self.n_target}:
            problems.append(f"target rows before batches: {sorted(set(self.rows_before))}")
        if len(got) != table.num_rows:
            problems.append(f"duplicate ids: {table.num_rows} rows, {len(got)} ids")
        bad = [k for k in expected.keys() | got.keys() if expected.get(k) != got.get(k)]
        if bad:
            k = min(bad)
            problems.append(f"{len(bad)} rows differ; id {k}: expected "
                            f"{expected.get(k)} got {got.get(k)}")
        audit = pq.read_table(self.audit).column("status").to_pylist()
        if audit.count("SUCCESS") != self.batches_run or len(audit) != self.batches_run:
            problems.append(f"audit holds {audit.count('SUCCESS')} SUCCESS of "
                            f"{len(audit)} rows for {self.batches_run} batches")
        return problems

    def space_amp(self) -> float:
        """Issues table bytes on disk ÷ bytes of the latest raw payload of
        each id it holds."""
        latest = {**self.payload_bytes, **self.pool[self.last][1]}
        return tree_bytes(self.target) / sum(latest.values())


def tree_bytes(path: str) -> int:
    """Bytes of the files under ``path`` (0 when it does not exist)."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
