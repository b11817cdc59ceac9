"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest benchmark/ -q
"""

from __future__ import annotations

import collections
import os
import shutil
import statistics

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import datagen
import stats
import workloads


def test_tables_are_a_function_of_the_seed():
    a, b = datagen.make_tables(7, 0.001), datagen.make_tables(7, 0.001)
    c = datagen.make_tables(8, 0.001)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert all(a[t].schema == c[t].schema and a[t].num_rows == c[t].num_rows for t in a)


def test_batches_are_a_function_of_the_seed():
    assert datagen.batch_records(3, 5, 100, 20) == datagen.batch_records(3, 5, 100, 20)
    assert datagen.batch_records(3, 5, 100, 20) != datagen.batch_records(4, 5, 100, 20)
    assert datagen.preload_records(3, 30) == datagen.preload_records(3, 30)


def test_batch_mix_is_fixed_across_seeds():
    for seed in range(5):
        ids = [r["id"] for r in datagen.batch_records(seed, 0, 100, 20)]
        assert len(set(ids)) == 20
        assert sum(i < 100 for i in ids) == 20 * datagen.BATCH_MIX["update"]


@pytest.mark.parametrize("name", sorted(workloads.DECKS))
def test_deck_composition_is_identical_across_seeds(name):
    deck = workloads.DECKS[name]
    orders = set()
    for seed in range(6):
        for pass_no in range(3):
            ops = workloads.deck_pass(deck, seed, pass_no)
            assert collections.Counter(ops) == collections.Counter(deck.weights)
            orders.add(tuple(ops))
    assert len(orders) > 1  # the seed moves the order, never the mix
    # a run's ops are whole passes, enough for a tail above p50
    assert deck.min_ops % sum(deck.weights.values()) == 0
    stats.tail([float(i) for i in range(deck.min_ops)])


def test_etl_target_rows_are_constant_before_every_batch(tmp_path):
    wl = workloads.EtlWorkload(None, str(tmp_path), 1, n_target=50, batch_size=10)
    os.makedirs(wl.snapshot)
    rows = pa.table({"marvel_comic_id": list(range(50))})
    pq.write_table(rows, os.path.join(wl.snapshot, "part-0.parquet"))
    shutil.copytree(wl.snapshot, wl.target)
    for i in range(4):
        wl._next_batch()
        # a batch grows the table; the next restore must undo that
        pq.write_table(rows.slice(0, 10 + i), os.path.join(wl.target, f"part-{i + 1}.parquet"))
    assert wl.rows_before == [50] * 4
    assert wl.last == 3


def test_upsert_model_keeps_stored_values_for_null_and_blank_fields():
    stored = datagen.preload_records(1, 3)
    table = {r[0]: r for r in map(datagen.normalize, stored)}
    upd = dict(stored[0], isbn=None, upc="   ", description="  new text ",
               title="Changed #1", prices=[])
    new = dict(stored[1], id=99)
    out = datagen.upsert_model(table, [upd, new])
    row = dict(zip(datagen.MARVEL_COLUMNS, out[0]))
    old = dict(zip(datagen.MARVEL_COLUMNS, table[0]))
    assert row["isbn"] == old["isbn"] and row["upc"] == old["upc"]
    assert row["price_cents"] == old["price_cents"]
    assert row["title"] == old["title"]  # not an update column
    assert row["description"] == "new text"
    assert out[99][0] == 99 and len(out) == 4


def test_normalize_reference_rules():
    rec = datagen.preload_records(2, 1)[0]
    rec.update(issueNumber=12.0, variantDescription="Sketch Variant",
               thumbnail={"path": "http://x/y", "extension": None},
               dates=[{"type": "onsaleDate", "date": "2011-02-02T00:00:00-0500"}],
               prices=[{"type": "printPrice", "price": 3.99}])
    row = dict(zip(datagen.MARVEL_COLUMNS, datagen.normalize(rec)))
    assert row["issue_number"] == "12" and row["price_cents"] == 399
    assert row["cover_url"] == "http://x/y/portrait_uncanny.jpg"
    assert row["is_variant"] and str(row["onsale_date"]) == "2011-02-02"
    rec.update(issueNumber=1.1, dates=[{"type": "onsaleDate", "date": "garbage"}],
               thumbnail={"path": "http://x/image_not_available", "extension": "jpg"})
    row = dict(zip(datagen.MARVEL_COLUMNS, datagen.normalize(rec)))
    assert row["issue_number"] == "1.1"
    assert row["onsale_date"] is None and row["cover_url"] is None


def test_tail_reports_its_percentile():
    samples = [float(i) for i in range(1, 101)]
    assert stats.tail(samples) == (90.0, 90.0)
    pct, value = stats.tail(samples[:40])
    assert pct == 75.0 and value == 30.0


@pytest.mark.parametrize("n", range(1, 120))
def test_tail_never_duplicates_p50(n):
    samples = [float(i) for i in range(n)]
    if n - stats.TAIL_BEYOND <= n // 2 + 1:
        with pytest.raises(ValueError):
            stats.tail(samples)
        return
    pct, value = stats.tail(samples)
    assert pct > 50 and value > statistics.median(samples)
    assert sum(s > value for s in samples) == stats.TAIL_BEYOND


def test_spread_is_iqr_over_median():
    assert stats.spread([10.0] * 10) == 0
    values = [float(v) for v in range(1, 11)]
    q1, med, q3 = statistics.quantiles(values, n=4)
    assert stats.spread(values) == (q3 - q1) / med


def test_fold_attributes_event_log_to_spans(tmp_path):
    import json

    import tracing

    tr = tracing.Tracer.__new__(tracing.Tracer)
    tr.ops = [{"op": 0, "start": 10.0, "end": 11.0, "py4j": 40, "query": "q",
               "phases": {"analysis": 2, "optimization": 3, "planning": 1}},
              {"op": 1, "start": 20.0, "end": 21.0, "py4j": 90, "batch_bytes": 1000,
               "phases": {}}]
    tr.spans = [
        {"op": 0, "layer": "session.load_tables", "start": 10.0, "end": 10.1},
        {"op": 0, "layer": "plans.build", "start": 10.0, "end": 10.3},
        {"op": 0, "layer": "exec", "start": 10.3, "end": 11.0},
        {"op": 1, "layer": "sinks.writers.safe_overwrite_parquet", "start": 20.2, "end": 20.6},
        {"op": 1, "layer": "pipeline", "start": 20.0, "end": 21.0},
    ]

    def job(jid, group, stages, when):
        props = {"spark.jobGroup.id": group} if group else {}
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
                "Submission Time": when, "Properties": props}

    def task(stage, run_ms, written=0, sent=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": [
                    {"ID": 7, "Name": tracing.PY_SENT, "Update": sent}]},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 1e6,
                                 "Output Metrics": {"Bytes Written": written}}}
    events = [
        job(0, "bench|0|session.load_tables", [0], 10050),
        job(1, "bench|0|exec", [1, 2], 10400),
        job(2, None, [3], 10500),  # a streaming job: attributed by time
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        task(1, 5, sent=300), task(1, 7), task(3, 11),
        job(3, "bench|1|sinks.writers.safe_overwrite_parquet", [4], 20300),
        task(4, 20, written=1500),
    ]
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    (log_dir / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    out = tracing.fold(tr, str(log_dir))
    assert set(out) == set(tracing.LAYER_METRICS)
    assert out["session.load_tables.jobs"] == 1
    assert round(out["plans.build.ms"]) == 200  # load_tables excluded
    assert out["exec.jobs"] == 2 and out["exec.tasks"] == 3
    assert out["exec.task_run_ms"] == 23 and out["exec.stages"] == 1
    assert out["python_udf.bytes_sent"] == 300
    assert out["catalyst.optimization_ms"] == 3 and out["py4j.calls"] == 40
    assert out["sinks.writers.safe_overwrite_parquet.jobs"] == 1
    assert out["sinks.writers.safe_overwrite_parquet.bytes_written"] == 1500
    assert out["sinks.write_amp"] == 1.5
    assert round(out["pipeline.self_ms"]) == 600


def test_a_wrong_result_fails_every_op_of_its_query():
    t = workloads.Timing([0.1] * 5, {"a": 3, "b": 2, "c": 1}, {"b": 1}, 0.5)
    assert t.attempted == 6
    assert t.failed([]) == 1
    assert t.failed(["a"]) == 4
    assert t.failed(["b"]) == 2
