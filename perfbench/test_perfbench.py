"""Checks of the benchmark's own code, on its small corpus.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the repository root.
"""

from __future__ import annotations

import json

import pytest


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from intertext_spark.session import get_spark
    from run import configure_env

    configure_env(str(tmp_path_factory.mktemp("run")))
    s = get_spark(app="perfbench-tests", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_match_digest_ignores_row_order_and_file_ids():
    from workloads import match_digest

    rows = [(1, 2, 0, 5), (2, 3, 1, 1)]
    conv_of = {1: "a", 2: "b", 3: "c"}
    renumbered = [(20, 10, 5, 0), (30, 20, 1, 1)]
    assert match_digest(rows, conv_of) == match_digest(
        renumbered[::-1], {10: "a", 20: "b", 30: "c"}
    )
    assert match_digest(rows[:1], conv_of) != match_digest(rows, conv_of)


def test_event_log_totals_by_job_group(tmp_path):
    from measure import event_log_totals, task_skew

    def task(stage, run_ms, reason="Success", spill=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task End Reason": {"Reason": reason},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Executor CPU Time": run_ms * 10**6,
                                 "JVM GC Time": 5, "Disk Bytes Spilled": spill,
                                 "Shuffle Write Metrics":
                                     {"Shuffle Bytes Written": 1024 * 1024}}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "candidates"}},
        task(0, 100), task(0, 300), task(0, 100, reason="ExceptionFailure"),
        task(1, 50, spill=2 * 1024 * 1024),
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        task(2, 10),
    ]
    (tmp_path / "app").mkdir()
    with open(tmp_path / "app" / "events_1", "w") as f:
        f.write("\n".join(json.dumps(e) for e in events) + "\n")
    totals, times = event_log_totals(str(tmp_path))
    c = totals["candidates"]
    assert c["jobs"] == 1 and c["failed_tasks"] == 1
    assert c["shuffle_write_mb"] == pytest.approx(4.0)
    assert c["spill_mb"] == pytest.approx(2.0)
    assert c["task_cpu_s"] == pytest.approx(0.55)
    assert totals["untagged"]["jobs"] == 1
    assert task_skew(times["candidates"]) == pytest.approx(3.0)


def _scored(rows, conv_of: dict) -> dict:
    """((conv, window), (conv, window)) -> similarity, pair order-free."""
    out = {}
    for fa, fb, wa, wb, sim in rows:
        a, b = (conv_of[fa], wa), (conv_of[fb], wb)
        out[(min(a, b), max(a, b))] = sim
    return out


def test_incremental_append_matches_batch_pipeline(spark, tmp_path):
    """The streaming workload finds the same matches in one micro-batch
    as in two, and the matches of a batch Pipeline.run on the same union
    corpus up to difflib's argument order: Pipeline numbers files by
    sorted conv_id, process_batch by hash, and a pair's ratio depends on
    which window text comes first, so only pairs scored near min_sim may
    fall on different sides of it."""
    from intertext_spark.config import DEFAULT
    from intertext_spark.pipeline import Pipeline
    from intertext_spark.sources import read_transcripts
    from intertext_spark.streaming.incremental import IncrementalReuse
    from workloads import (
        PAIR_COLS, IncrementalAppend, match_digest, pair_recall, write_transcripts,
    )

    wl = IncrementalAppend(spark, str(tmp_path), seed=401)
    wl.build_inputs()
    one_batch = wl.op()
    assert one_batch.recall == 1.0

    convs = sorted({r[0] for r in wl.pc.rows})
    inc = IncrementalReuse(spark, DEFAULT, str(tmp_path / "acc2"))
    for i, part in enumerate((convs[0::2], convs[1::2])):
        path = str(tmp_path / f"batch{i}.parquet")
        write_transcripts([r for r in wl.pc.rows if r[0] in set(part)], path)
        inc.process_batch(read_transcripts(spark, path), i)
    cols = [*PAIR_COLS, "similarity"]
    stream = [tuple(r) for r in inc.matches().select(*cols).collect()]
    assert match_digest([r[:4] for r in stream], wl._conv_of()) == one_batch.digest

    res = Pipeline(spark, DEFAULT).run(read_transcripts(spark, wl.path))
    conv_of = {r.file_id: r.conv_id for r in res["doc_ids"].collect()}
    batch = [tuple(r) for r in res["matches"].select(*cols).collect()]
    assert pair_recall([r[:4] for r in batch], conv_of, wl.pc.golden) == 1.0
    a, b = _scored(batch, conv_of), _scored(stream, wl._conv_of())
    assert len(set(a) ^ set(b)) < 0.01 * len(a)
    for k in set(a) ^ set(b):
        assert abs(a.get(k, b.get(k)) - DEFAULT.min_sim) < 5
    for k in set(a) & set(b):
        assert abs(a[k] - b[k]) < 5
