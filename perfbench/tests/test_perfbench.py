"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import operator
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import gen_imdb  # noqa: E402
import gen_tables  # noqa: E402
from stats import percentile  # noqa: E402
from tracing import covered_ms, fold_event_log  # noqa: E402


def test_percentile_reports_sample_count_and_refuses_thin_tails():
    xs = [float(i) for i in range(100)]
    p90 = percentile(xs, 0.9)
    assert p90 == {"value": 89.0, "n": 100, "beyond": 10}
    # 99 samples leave only 9 beyond the p90 rank: refused
    assert percentile(xs[:99], 0.9) is None
    assert percentile(xs[:5], 0.9) is None
    # the median is always reported, with its count
    assert percentile(xs[:5], 0.5) == {"value": 2.0, "n": 5, "beyond": 2}
    with pytest.raises(ValueError):
        percentile(xs, 1.0)


def test_covered_ms_is_the_union_of_job_spans():
    assert covered_ms([]) == 0
    assert covered_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert covered_ms([(20, 25), (0, 30)]) == 30


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    gen_tables.write(str(tmp_path / "t1"), 0.001, 7)
    gen_tables.write(str(tmp_path / "t2"), 0.001, 7)
    gen_tables.write(str(tmp_path / "t3"), 0.001, 8)
    assert _same_tree(tmp_path / "t1", tmp_path / "t2")
    assert not _same_tree(tmp_path / "t1", tmp_path / "t3")

    gen_imdb.write(str(tmp_path / "i1"), 500, 7)
    gen_imdb.write(str(tmp_path / "i2"), 500, 7)
    gen_imdb.write(str(tmp_path / "i3"), 500, 8)
    assert _same_tree(tmp_path / "i1", tmp_path / "i2")
    assert not _same_tree(tmp_path / "i1", tmp_path / "i3")


def test_imdb_dump_has_the_adversarial_cases(tmp_path):
    gen_imdb.write(str(tmp_path), 2000, 3)
    crew = (tmp_path / "title_crew.tsv").read_text().split("\n")
    people = {p for line in crew[1:] for col in line.split("\t")[1:]
              for p in col.split(",")}
    assert {"nm0000001", "nm00000010", "\\N"} <= people
    basics = (tmp_path / "title_basics.tsv").read_text()
    assert "\t2024\t" in basics  # junk isAdult values
    akas = (tmp_path / "title_akas.tsv").read_text().split("\n")[1:]
    with_akas = {line.split("\t")[0] for line in akas if line}
    assert 0.8 < len(with_akas) / 2000 < 0.9


def test_fold_counts_a_known_job_exactly(tmp_path, monkeypatch):
    from mknssh_11_bigdata_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = get_spark(
        app_name="perfbench-fold-test",
        master="local[2]",
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext
    try:
        app_id = sc.applicationId
        sc.setJobGroup("known", "known")
        # one job: a 4-task map stage shuffling into a 2-task result stage
        out = (sc.parallelize(range(100), 4)
               .map(lambda x: (x % 3, 1))
               .reduceByKey(operator.add, 2)
               .collect())
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.parallelize(range(10), 3).count()  # ungrouped: 1 job, 3 tasks
    finally:
        spark.stop()
    assert sorted(out) == [(0, 34), (1, 33), (2, 33)]
    groups = fold_event_log(str(log_dir / app_id))
    g = groups["known"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 2, 6)
    assert g["shuffle_write_bytes"] > 0
    assert g["shuffle_read_bytes"] == g["shuffle_write_bytes"]
    assert len(g["task_ms"]) == 6 and len(g["job_spans"]) == 1
    u = groups[""]
    assert (u["jobs"], u["stages"], u["tasks"]) == (1, 1, 3)


def test_failed_operations_and_checks_are_counted_by_name(tmp_path):
    from workloads import Ctx

    ctx = Ctx(str(tmp_path), str(tmp_path), 1, None)
    dt, out = ctx.op("boom", "call", lambda: 1 / 0)
    assert out is None and dt >= 0.0
    ctx.op("fine", "call", lambda: 2)
    ctx.check(True, "never reported")
    ctx.check(False, "mismatch in q1")
    assert ctx.attempted == 4
    assert ctx.failures == ["boom: ZeroDivisionError: division by zero",
                            "mismatch in q1"]
    assert [o["name"] for o in ctx.ops] == ["boom", "fine"]


def test_fastest_ops_takes_each_operation_at_its_fastest():
    from run import fastest_ops

    def pass_of(*times):
        names = [("q", "construct"), ("q", "exec"), ("s", "call"), ("s", "call")]
        return {"ops": [{"name": n, "kind": k, "s": t}
                        for (n, k), t in zip(names, times)]}

    # a repeated operation is matched by its position among its kind
    passes = [pass_of(2.0, 1.0, 0.5, 0.7), pass_of(1.5, 1.2, 0.6, 0.4)]
    assert fastest_ops(passes) == pytest.approx(1.5 + 1.0 + 0.5 + 0.4)
    assert fastest_ops(passes[:1]) == pytest.approx(4.2)
