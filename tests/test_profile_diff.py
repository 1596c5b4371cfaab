"""tools/profile_diff.py: the metric-by-metric diff of two perfbench run
records."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import profile_diff  # noqa: E402


def _record(path, e2e, layers):
    path.write_text(json.dumps({"e2e": e2e, "layers": layers, "time": 0.0}))
    return str(path)


def test_profile_diff_lists_metrics_and_filters_moved(tmp_path, capsys):
    a = _record(
        tmp_path / "a.json",
        {"setup_s": 30.0, "throughput_per_s": 8000.0},
        {"sinks.jobs_per_batch": 12, "sinks.history_files": 11,
         "sources.lost_msgs": 0, "only.in_a": 1.0},
    )
    b = _record(
        tmp_path / "b.json",
        {"setup_s": 31.5, "throughput_per_s": 6000.0},
        {"sinks.jobs_per_batch": 13, "sinks.history_files": 11,
         "sources.lost_msgs": 2},
    )

    rows = list(profile_diff.diff(profile_diff.load(a), profile_diff.load(b)))
    assert [r[0] for r in rows] == [
        "setup_s", "throughput_per_s", "sinks.jobs_per_batch",
        "sinks.history_files", "sources.lost_msgs",
    ]
    by_name = {name: d for name, _, _, d in rows}
    assert by_name["setup_s"] == 5.0
    assert by_name["throughput_per_s"] == -25.0
    assert by_name["sinks.history_files"] == 0.0
    assert by_name["sources.lost_msgs"] == float("inf")

    assert profile_diff.main([a, b, "--moved", "6"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "| metric | A | B | Δ% |"
    assert out[2:] == [
        "| `throughput_per_s` | 8000 | 6000 | -25.0 |",
        "| `sinks.jobs_per_batch` | 12 | 13 | +8.3 |",
        "| `sources.lost_msgs` | 0 | 2 | new |",
    ]
