"""Self-tests of the benchmark harness: event-log parsing, job counting
at build time, the writers directory walk and the span records.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
from spans import Tracer, covered, parse_event_log, walk_target  # noqa: E402


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    """The harness's own session, with the event log of a traced run."""
    work = str(tmp_path_factory.mktemp("work"))
    os.makedirs(os.path.join(work, "tmp"))
    run.import_engine()
    event_dir = os.path.join(work, "eventlog")
    spark, _ = run.start_session(work, event_dir)
    yield spark, event_dir
    run.stop_session(spark)


def _flushed_log(spark, event_dir: str) -> str:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    (name,) = os.listdir(event_dir)
    return os.path.join(event_dir, name)


def test_event_log_parser_on_known_jobs(session):
    spark, event_dir = session
    sc = spark.sparkContext
    sc.setJobGroup("narrow", "4 tasks, no shuffle")
    spark.range(0, 1000, 1, 4).write.format("noop").mode("overwrite").save()
    sc.setJobGroup("shuffle", "one exchange")
    (spark.range(0, 1000, 1, 4).repartition(3)
     .write.format("noop").mode("overwrite").save())
    groups = parse_event_log(_flushed_log(spark, event_dir))

    narrow = groups["narrow"]
    assert narrow["tasks"] == 4 and narrow["failed_tasks"] == 0
    assert len(narrow["jobs"]) == 1
    start, end = narrow["jobs"][0]
    assert start <= end <= time.time()
    assert narrow["shuffle_write_bytes"] == narrow["shuffle_read_bytes"] == 0
    assert narrow["run_s"] >= 0 and narrow["cpu_s"] >= 0

    shuffle = groups["shuffle"]
    assert shuffle["shuffle_write_bytes"] > 0
    assert shuffle["shuffle_read_bytes"] == shuffle["shuffle_write_bytes"]
    assert shuffle["tasks"] >= 4 + 1


def test_jobs_at_build(session):
    spark, _ = session
    sc = spark.sparkContext
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    sc.setJobGroup("plain-build", "")
    spark.range(100).selectExpr("id % 3 AS k").groupBy("k").count()
    assert run.jobs_in_group(sc, "plain-build") == 0
    # Under AQE a lazy local checkpoint still plans its input, and the
    # shuffle below it runs as soon as the frame is built.
    sc.setJobGroup("lazy-checkpoint", "")
    spark.range(1000).repartition(4, "id").localCheckpoint(eager=False)
    assert run.jobs_in_group(sc, "lazy-checkpoint") >= 1


def test_walk_target(tmp_path):
    target = tmp_path / "lake" / "t"
    new = target / "year=2024" / "month=1"
    old = target / "year=2023" / "month=12"
    new.mkdir(parents=True)
    old.mkdir(parents=True)
    since = time.time()
    (old / "part-0.parquet").write_bytes(b"x" * 7)
    os.utime(old / "part-0.parquet", (since - 100, since - 100))
    (new / "part-0.parquet").write_bytes(b"x" * 10)
    (new / "part-1.parquet").write_bytes(b"x" * 5)
    (new / ".part-0.parquet.crc").write_bytes(b"c")
    (target / "_SUCCESS").write_bytes(b"")
    (target / "_temporary").mkdir()
    (tmp_path / "lake" / "t__tmp_0123456789ab").mkdir()
    (tmp_path / "lake" / "t__bak_0123456789ab").mkdir()
    (tmp_path / "lake" / "t_other").mkdir()

    assert walk_target(str(target), since) == {
        "files_written": 2, "bytes_written": 15,
        "partitions_written": 1, "leftover_paths": 3,
    }


def test_trace_json_shape(tmp_path):
    tr = Tracer()
    with tr.span("pass") as outer:
        with tr.span("entry.build", op="pagerank") as inner:
            pass
        tr.wrap("operators.write", lambda: None, op="orders_full")()
    path = tmp_path / "spans.json"
    tr.dump(str(path))
    spans = json.loads(path.read_text())

    assert [s["name"] for s in spans] == ["pass", "entry.build", "operators.write"]
    for s in spans:
        assert set(s) == {"id", "name", "start", "end", "parent", "op"}
        assert s["start"] <= s["end"]
    assert spans[0]["parent"] is None
    assert spans[1]["parent"] == spans[2]["parent"] == outer["id"]
    assert spans[1]["op"] == "pagerank" and spans[2]["op"] == "orders_full"
    assert [c["id"] for c in tr.children(outer["id"])] == [inner["id"], 2]


def test_covered_merges_overlapping_intervals():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == pytest.approx(1)
    assert covered([], 0, 1) == 0


def test_lake_check_names_ops_of_unwritten_targets(tmp_path):
    """Before tonight's loads the seed lake matches no target: the check
    names every op, once, and a target that was never written is a
    mismatch rather than an error."""
    from inputs import star_tables
    from lake import Lake

    lake = Lake(str(tmp_path), star_tables(3, 0.002), 3)
    lake.write_inputs()
    shutil.copytree(lake.seed_lake, lake.lake)
    ops = [op[0] for chain in lake.ops() for op in chain]
    assert sorted(lake.check()) == sorted(ops)
