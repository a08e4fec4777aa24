"""Verdicts of ``scripts/perf_ab.py``'s ``summarize`` on synthetic pairs.

The script is loaded by path (``scripts/`` is not a package); nothing here
starts Spark or a benchmark run.
"""

import importlib.util
import os
import random

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _perf_ab():
    spec = importlib.util.spec_from_file_location("perf_ab", os.path.join(ROOT, "scripts", "perf_ab.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# per metric: (better, bound, parent runs, change runs), paired by index
RUNS = {
    # the parent's IQR is 40% of its median (bound 24%) and the runs overlap
    "noisy": ("lower", 0.24, [100, 60, 140, 80, 120, 70, 130, 90, 110, 100],
              [100, 110, 90, 130, 70, 120, 80, 140, 60, 100]),
    # change median 30% under the parent's, higher is better
    "slower": ("higher", 0.24, [100, 101, 99, 100, 102, 98, 100, 101, 99, 100], [70] * 10),
    "faster": ("lower", 0.1, [10, 11, 9, 10, 10.5, 9.5, 10, 10.2, 9.8, 10], [8] * 10),
    "same": ("lower", 0.1, [10, 10.1, 9.9, 10, 10.2, 9.8, 10, 10.1, 9.9, 10],
             [10.2, 10.3, 10.1, 10.2, 10.4, 10.0, 10.2, 10.3, 10.1, 10.2]),
    # the parent's IQR is half its median, and every change run beats every
    # parent run by less than that IQR
    "noisy_separated": ("lower", 0.24, [80, 120, 82, 130, 84, 140, 86, 150, 88, 160], [79] * 10),
}


def _pairs():
    return [
        {side: {"metrics": {name: {"value": runs[k][i]} for name, runs in RUNS.items()}}
         for k, side in ((2, "parent"), (3, "change"))}
        for i in range(10)
    ]


def test_summarize_verdicts():
    mod = _perf_ab()
    metrics = [{"name": n, "better": b, "bound": bound} for n, (b, bound, _, _) in RUNS.items()]
    summary = mod.summarize(_pairs(), metrics, random.Random(0))
    assert {n: s["verdict"] for n, s in summary.items()} == {
        "noisy": "unresolved",
        "slower": "worse",
        "faster": "better",
        "same": "within bound",
        "noisy_separated": "within bound",
    }
    assert summary["slower"]["ratio_median"] < 0.76
    assert summary["noisy"]["parent_iqr"] > 0.24 * summary["noisy"]["parent_median"]
