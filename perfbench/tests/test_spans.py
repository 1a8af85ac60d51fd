"""Unit tests of the benchmark's span arithmetic (no Spark needed).

Run from the repository root: python -m pytest perfbench/tests -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Span, StageRec, covered, round_intervals, spark_totals, within  # noqa: E402


def test_covered_merges_overlaps_and_clips_to_the_interval():
    assert covered((0.0, 10.0), []) == 0.0
    assert covered((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]) == 5.0
    assert covered((5.0, 6.0), [(0.0, 10.0)]) == 1.0
    assert covered((0.0, 1.0), [(2.0, 3.0)]) == 0.0


def test_round_intervals_run_from_save_to_save_and_skip_the_seed_save():
    spans = [
        Span("engine.crawl", 0.0, 10.0),
        Span("catalog.state_save", 0.5, 0.6, {"round": 0}),
        Span("catalog.state_save", 3.0, 3.1, {"round": 1}),
        Span("catalog.state_save", 6.0, 6.1, {"round": 2}),
        # a resumed crawl: its first round starts with the call
        Span("engine.crawl", 20.0, 25.0),
        Span("catalog.state_save", 24.0, 24.5, {"round": 3}),
    ]
    assert round_intervals(spans) == [(0.6, 3.1), (3.1, 6.1), (20.0, 24.5)]


def test_stages_are_attributed_by_submission_time():
    def stage(sid, t0, t1, **kw):
        return StageRec(sid, 0, t0, t1, kw.get("ex", 1.0), kw.get("tasks", 4),
                        kw.get("r", 0), kw.get("w", 0), kw.get("spill", 0))

    stages = [stage(0, 1.0, 2.0, w=10), stage(1, 2.5, 9.0, r=10, tasks=1), stage(2, 11.0, 12.0)]
    spans = [Span("catalog.write", 0.0, 2.5), Span("catalog.write", 8.0, 10.0)]
    assert [s.stage_id for s in within(stages, spans)] == [0]
    assert spark_totals(2, stages) == {
        "spark.jobs": 2, "spark.stages": 3, "spark.tasks": 9,
        "spark.shuffle_read_bytes": 10, "spark.shuffle_write_bytes": 10,
        "spark.spill_bytes": 0,
    }
