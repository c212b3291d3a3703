"""The event-log roll-up over a small recorded Spark 4.1 event log.

The fixture is a local[2] app that ran three actions: a pandas UDF +
group-by under job group ``layer_a``, a count under ``layer_b``, and a
count with no group. Only the events the parser reads are kept.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import rollup  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


def test_jobs_are_grouped_by_job_group():
    groups = rollup(FIXTURE)
    assert set(groups) == {"layer_a", "layer_b", None}
    # each action is a shuffle-map job plus a result job under AQE
    assert {g: s.jobs for g, s in groups.items()} == {
        "layer_a": 2, "layer_b": 2, None: 2,
    }
    assert all(s.tasks == 3 for s in groups.values())


def test_task_metrics_roll_up_per_group():
    a = rollup(FIXTURE)["layer_a"]
    assert a.task_ms == 3149 + 3150 + 194
    assert a.task_s == a.task_ms / 1000
    assert a.input_records == 1000
    assert a.shuffle_read_bytes == a.shuffle_write_bytes == 269
    assert a.spill_mb == 0
    # only the UDF stage reports Python time, and only layer_a has one
    assert a.python_ms == 2687 + 2697
    assert rollup(FIXTURE)["layer_b"].python_ms == 0


def test_skew_is_taken_in_the_largest_stage():
    a = rollup(FIXTURE)["layer_a"]
    assert a.skew == 3150 / 3149.5


def test_idle_core_frac():
    b = rollup(FIXTURE)["layer_b"]
    assert b.idle_core_frac(wall_s=0.108, cores=2) == 0.5
    assert b.idle_core_frac(wall_s=0.0, cores=2) == 0.0
