"""Compare two benchmark records: the line before the result line in
the saved standard output of two ``run.py`` runs.

    python3 perfbench/run.py --workload det_cold --seed 1 --seconds 8 > before.out
    python3 perfbench/compare.py before.out after.out

Refuses records that are not comparable: different workload, trace
mode, core count or PySpark version. Numbers from an 8-core and a
32-core host measure different machines, not different code.
"""

from __future__ import annotations

import json
import sys

MUST_MATCH = [("workload",), ("trace",), ("provenance", "cpus"), ("provenance", "pyspark")]


def load_record(path: str) -> dict:
    """The full record in a run's saved standard output: the last
    JSON line that carries provenance."""
    with open(path) as f:
        lines = [l for l in f if l.startswith("{")]
    for line in reversed(lines):
        record = json.loads(line)
        if "provenance" in record:
            return record
    raise ValueError(f"{path}: no benchmark record in this output")


def field(record: dict, path: tuple[str, ...]):
    for key in path:
        record = record.get(key, {}) if isinstance(record, dict) else {}
    return record


def comparable(a: dict, b: dict) -> list[str]:
    """Reasons the two records must not be compared (empty if none)."""
    return [
        f"{'.'.join(p)} differs: {field(a, p)!r} vs {field(b, p)!r}"
        for p in MUST_MATCH
        if field(a, p) != field(b, p)
    ]


def ratios(a: dict, b: dict) -> dict[str, float]:
    key = "per_layer" if a.get("trace") else "end_to_end"
    return {k: b[key][k] / v for k, v in a[key].items() if k in b[key] and v}


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (load_record(p) for p in argv)
    reasons = comparable(a, b)
    if reasons:
        print("refusing to compare: " + "; ".join(reasons), file=sys.stderr)
        return 2
    for k, r in ratios(a, b).items():
        print(f"{k:40s} after/before = {r:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
