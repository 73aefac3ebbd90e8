"""Metric names, units and directions, shared by the runner and by
``BENCHMARK.json``, which is generated from this module so the two
cannot drift:

    python3 perfbench/names.py > BENCHMARK.json
"""

from __future__ import annotations

import json

from workloads import LEAVES, WHY

# name, unit, better, bound (share of the parent's median)
END_TO_END = [
    ("wall_s", "s", "lower", 0.25),
    ("rows_per_s", "1/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("cpu_core_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
]

# flagship stages (kg_build): metric suffix -> unit
KG_LAYERS = {
    "preprocess": {"s": "s", "rows_out": "count", "quarantined": "count"},
    "tagging": {"s": "s", "mentions_out": "count", "py_mb": "MB"},
    "mutations": {"s": "s", "mentions_out": "count"},
    "normalize": {"s": "s", "linked_ratio": "ratio"},
    "abbrev": {"s": "s", "recovered": "count"},
    "neural": {"s": "s", "surfaces": "count", "linked_ratio": "ratio",
               "py_mb": "MB"},
    "canonicalize": {"s": "s", "rows_in": "count", "rows_out": "count"},
    "postprocess": {"s": "s", "triples_out": "count"},
    "sink": {"s": "s", "mb_written": "MB", "files": "count"},
    "pipeline": {"jobs": "count", "cache_mb": "MB", "shuffle_mb": "MB",
                 "spill_mb": "MB"},
}

# registry leaves (leaf_mix), by plan shape
LEAF_MEASURES = {
    "pair": {"s": "s", "rows_out": "count", "shuffle_records": "count",
             "shuffle_mb": "MB"},
    "fixpoint": {"s": "s", "jobs": "count", "shuffle_mb": "MB"},
    "scan": {"s": "s", "tasks": "count"},
}

SHARED = {
    "queries.scan_exchange_mb": "MB",
    "session.start_s": "s",
    "session.warm_s": "s",
    "host.busy_core_s": "s",
    "host.steal_pct": "%",
    "host.calib_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_names() -> list:
    out = [(f"{layer}.{m}", u) for layer, ms in KG_LAYERS.items()
           for m, u in ms.items()]
    out += [(f"{mod}.{leaf}.{m}", u) for mod, leaf, kind in LEAVES
            for m, u in LEAF_MEASURES[kind].items()]
    out += list(SHARED.items())
    return out


# counts that measure cost rather than output
_COST_COUNTS = (".jobs", ".tasks", ".shuffle_records", ".files",
                ".quarantined")


def better(name: str, unit: str) -> str:
    cost = unit in ("s", "MB", "%") or name.endswith(_COST_COUNTS)
    return "lower" if cost else "higher"


def manifest() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        # one warm leaf_mix pass and one cold kg_build pass on a 4-vCPU
        # VM: each takes longer than this
        "run_seconds": 10,
        "workloads": [{"name": n, "why": w} for n, w in WHY.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": d}
                       for n, u, b, d in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": better(n, u)}
                      for n, u in per_layer_names()],
    }


if __name__ == "__main__":
    print(json.dumps(manifest(), indent=2))
