"""bench.py's task-time diff compares only like runs (same sf, cores,
reps and a near era canary)."""

from __future__ import annotations

import bench


def test_task_flags_only_against_matching_baseline():
    stamp = {"sf": 0.1, "cpus": 4, "reps": 3, "git_sha": "b", "era_canary_sec": 1.2}
    prev = {
        "sf": 0.1, "cpus": 4, "reps": 3, "git_sha": "a", "era_canary_sec": 1.25,
        "queries": {"q_slow": {"task": 2.0}, "q_same": {"task": 2.0}, "q_tiny": {"task": 0.1}},
    }
    cur = {"q_slow": {"task": 4.0}, "q_same": {"task": 2.2}, "q_tiny": {"task": 0.4}}
    flags, prev_tasks, status = bench._task_flags(prev, stamp, cur)
    assert (flags, status) == (["q_slow:x2.00"], "match")
    assert prev_tasks["q_slow"] == 2.0
    # any differing key (or a baseline without the stamp) -> no diff at all
    for key, other in (("sf", 0.001), ("cpus", 32), ("reps", 1)):
        assert bench._task_flags({**prev, key: other}, stamp, cur) == ([], {}, "mismatch")
    legacy = {k: v for k, v in prev.items() if k != "cpus"}
    assert bench._task_flags(legacy, stamp, cur) == ([], {}, "mismatch")
    assert bench._task_flags({}, stamp, cur) == ([], {}, "mismatch")


def test_task_flags_refuse_a_far_off_era_canary():
    """Runs on hosts of different speed are unlike: canaries further
    apart than CANARY_RATIO_MAX, either way round, or a missing canary
    on either side, make a mismatch; canaries within it still match."""
    ratio = bench.CANARY_RATIO_MAX
    stamp = {"sf": 0.1, "cpus": 4, "reps": 3, "git_sha": "b", "era_canary_sec": 1.0}
    prev = {**stamp, "git_sha": "a", "queries": {"q": {"task": 4.0}}}
    cur = {"q": {"task": 2.0}}
    mismatch = ([], {}, "mismatch")
    for canary in (1.0 * ratio * 1.01, 1.0 / (ratio * 1.01), 1.93 / 1.22):
        assert bench._task_flags({**prev, "era_canary_sec": canary}, stamp, cur) == mismatch
    for canary in (1.0 * ratio * 0.99, 1.0 / (ratio * 0.99)):
        assert bench._task_flags({**prev, "era_canary_sec": canary}, stamp, cur)[2] == "match"
    legacy = {k: v for k, v in prev.items() if k != "era_canary_sec"}
    assert bench._task_flags(legacy, stamp, cur) == mismatch
    assert bench._task_flags(prev, {**stamp, "era_canary_sec": None}, cur) == mismatch


def test_count_code_lines_skips_docstrings_comments_and_blanks():
    """scripts/count_code_lines.py counts lines holding a code token:
    docstrings, comment-only and blank lines are out; every line a
    multi-line string spans is in, its blank line too."""
    import importlib.util
    import pathlib

    path = pathlib.Path(bench.__file__).resolve().parent / "scripts" / "count_code_lines.py"
    spec = importlib.util.spec_from_file_location("count_code_lines", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    snippet = (
        '"""Module docstring\n'
        'over two lines."""\n'
        "\n"
        "import os  # trailing comment\n"
        "# a comment line\n"
        "\n"
        "def f(x):\n"
        '    """Function docstring."""\n'
        '    s = """a\n'
        "multi-line\n"
        "\n"
        'string"""\n'
        "    return s\n"
    )
    assert mod.count_code_lines(snippet) == 7
