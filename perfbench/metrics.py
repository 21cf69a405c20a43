"""Metric catalogue (mirrored by BENCHMARK.json) and the run result."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

#: name -> (unit, better). Every workload reports every one of these.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "latency_p50_s": ("s", "lower"),
}

_STAGES = ("feed", "parser", "stats")
_STAGE_METRICS = {"batch_ms": "ms", "busy_share": "ratio", "listing_ms": "ms",
                  "planning_ms": "ms", "commit_ms": "ms", "rows_per_batch": "count",
                  "jobs_per_batch": "count", "task_s": "s"}
_BATCH_LAYER = {"build_s": "s", "exec_s": "s", "n_jobs": "count", "n_stages": "count",
                "driver_gap_s": "s", "task_s": "s", "core_util": "ratio",
                "shuffle_write_mb": "MB", "self_s": "s"}

#: name -> unit. A layer a workload does not exercise reports 0.
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "session.warmup_s": "s",
    "session.scan_mb": "MB",
    "session.max_scan_tasks": "count",
    "registry.lookup_s": "s",
    **{f"plans.{k}": u for k, u in _BATCH_LAYER.items()},
    **{f"operators.{k}": u for k, u in _BATCH_LAYER.items()},
    "operators.spill_mb": "MB",
    "operators.materializations": "count",
    **{f"sources.{k}": u for k, u in _BATCH_LAYER.items()},
    "sources.index_build_s": "s",
    **{f"streaming.{s}.{k}": u for s in _STAGES for k, u in _STAGE_METRICS.items()},
    "streaming.stats.state_rows": "count",
    "streaming.stats.state_mb": "MB",
    "streaming.stats.state_commit_ms": "ms",
    "streaming.watermark_drops": "count",
    "streaming.lag_files_end": "count",
    "streaming.gen_late_max_s": "s",
    "streaming.drain_events_per_s": "1/s",
    "streaming.self_s": "s",
    "bench.self_s": "s",
    "trace.spans": "count",
    "trace.latency_p50_s": "s",
    "trace.latency_p90_s": "s",
}

#: direction of each per-layer metric, as BENCHMARK.json records it
LAYER_BETTER = {k: "higher" if k.endswith(("core_util", "per_s")) else "lower"
                for k in PER_LAYER}


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    props: dict = field(default_factory=dict)
    mismatches: list = field(default_factory=list)
    ledger: list = field(default_factory=list)

    def save(self, run_dir: str) -> None:
        with open(os.path.join(run_dir, "result.json"), "w") as fh:
            json.dump({"attempted": self.attempted, "failed": self.failed,
                       "end_to_end": self.e2e, "per_layer": self.layer,
                       "input_properties": self.props,
                       "mismatches": self.mismatches[:50],
                       "ledger": self.ledger}, fh, indent=1, default=str)


def render(values: dict, spec: dict) -> dict:
    out = {}
    for name, unit in spec.items():
        unit = unit[0] if isinstance(unit, tuple) else unit
        if name in values:
            v = values[name]
        elif spec is END_TO_END:
            raise KeyError(f"end-to-end metric {name} was not measured")
        else:
            v = 0
        out[name] = {"value": float(v), "unit": unit}
    return out
