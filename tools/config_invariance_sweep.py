"""Config-invariance sweep: re-run every oracle-backed query's VALUE
comparison under a non-default Spark configuration and report
mismatches. Evidence that results do not depend on config axes that
differ between local[32] and a production cluster (AQE re-planning,
ANSI mode, shuffle partition count, broadcast-versus-shuffle joins).

Usage:
    python tools/config_invariance_sweep.py aqe-off  [sf_dir]
    python tools/config_invariance_sweep.py ansi-off [sf_dir]
    python tools/config_invariance_sweep.py parts-1  [sf_dir]
    python tools/config_invariance_sweep.py bcast-off [sf_dir]
    python tools/config_invariance_sweep.py 'spark.some.conf=value' [sf_dir]

Default sf_dir is /root/testdata/sf0.01 (the driver's grading scale).
Exits non-zero on any value mismatch. Round-8 results (sf0.01):
aqe-off 141/141, ansi-off 141/141.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
for p in (REPO, os.path.join(REPO, "tests")):
    if p not in sys.path:
        sys.path.insert(0, p)

PRESETS = {
    "aqe-off": {"spark.sql.adaptive.enabled": "false"},
    "ansi-off": {"spark.sql.ansi.enabled": "false"},
    "parts-1": {"spark.sql.shuffle.partitions": "1"},
    "parts-97": {"spark.sql.shuffle.partitions": "97"},
    # every join side counts as too large to broadcast: the shuffled
    # branch of the planner's size-based join selection
    "bcast-off": {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    },
}


def main() -> int:
    preset = sys.argv[1] if len(sys.argv) > 1 else "aqe-off"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    if preset in PRESETS:
        conf = PRESETS[preset]
    elif "=" in preset:
        k, v = preset.split("=", 1)
        conf = {k: v}
    else:
        print(f"unknown preset {preset!r}; one of {sorted(PRESETS)} or k=v")
        return 2

    from sklearn_raster_spark.plans.registry import load_all_queries
    from sklearn_raster_spark.session import get_spark

    from oracle_utils import compare_query

    spark = get_spark(app_name=f"config-invariance-{preset}", extra_conf=conf)
    for k, v in conf.items():
        assert spark.conf.get(k) == v, f"conf {k} did not take (existing session?)"

    reg = load_all_queries()
    names = sorted(k for k, s in reg.items() if s.oracle is not None)
    bad: list[tuple[str, str]] = []
    for i, name in enumerate(names):
        try:
            compare_query(spark, sf_dir, name)
        except AssertionError as exc:
            bad.append((name, str(exc)[:300]))
        if (i + 1) % 25 == 0:
            print(f"# {i + 1}/{len(names)} checked, {len(bad)} mismatches", flush=True)
    print(f"{preset} @ {sf_dir}: {len(names) - len(bad)}/{len(names)} value-match")
    for name, err in bad:
        print(f"MISMATCH {name}: {err}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
