"""Gate-rotation check: every registered query must have a green
CORRECTNESS row from a prior round, sit inside the current gate window,
or be queued for the next round. The window itself is generated by
``tools/gen_window.py``.

Usage:
    python tools/plan_rotation.py --check   # exit 1 on any violation
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def check() -> int:
    """CI guard: every query must be prior-gated, inside the current
    gate window, or explicitly queued for the next round. Returns the
    number of violations (0 = clean)."""
    from datafusion_functions_financial_spark.plans import registry

    names = list(registry.all_queries())
    window = set(names[: registry.GATE_WINDOW])
    lost = [
        n for n in names
        if n not in registry.PRIOR_GATED
        and n not in window
        and n not in registry.NEXT_ROUND_QUEUE
    ]
    for n in lost:
        print(f"ROTATION ERROR: {n} has no driver CORRECTNESS row, "
              f"sits outside the first-{registry.GATE_WINDOW} window, "
              "and is not in NEXT_ROUND_QUEUE")
    if not lost:
        ungated_in_window = sum(
            1 for n in names[: registry.GATE_WINDOW]
            if n not in registry.PRIOR_GATED)
        print(f"rotation OK: {len(names)} queries, "
              f"{ungated_in_window} ungated in window, "
              f"{len(registry.NEXT_ROUND_QUEUE)} queued")
    return len(lost)


if __name__ == "__main__":
    raise SystemExit(1 if check() else 0)
