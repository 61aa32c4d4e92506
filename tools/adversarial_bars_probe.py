#!/usr/bin/env python
"""Adversarial signed-zero / tie probe for every bar- and stocks-based
oracle query.

The driver corpora happen to contain only ~hundreds of the degenerate
bar shapes that trigger the signed-zero class (round-6 red row):
flat bars (high == low), close == rolling extreme, exact cross-bar
ties, and tiny negative deltas that round to zero at the output
precision. This probe CONCENTRATES them: it synthesizes an events
table where every sixth bar is flat, every sixth closes on its high,
whole days are flat for one symbol, and consecutive values differ by
1e-9 — then replays the mini-driver compare (strict, signbit-sensitive
comparator) for every oracle query whose SQL builds the ``bars`` or
``stocks`` CTE, Spark vs DuckDB on the same parquet.

Anything that diverges here is a latent driver red row waiting for
data that the fixed test corpus doesn't contain. Run after touching
indicator expressions or the fixture derivations:

    python tools/adversarial_bars_probe.py            # all 100+ queries
    python tools/adversarial_bars_probe.py rsi_14 obv # subset
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_USERS = 10
N_DAYS = 45
HOURS = 24


def build_events_pdf():
    """Deterministic adversarial events: no RNG, index arithmetic only."""
    import pandas as pd

    rows = []
    eid = 0
    etypes = ["purchase", "view", "click", "signup", "error"]
    base = pd.Timestamp("2024-01-01")
    for u in range(N_USERS):
        for d in range(N_DAYS):
            flat_day = u == 7 and d % 5 == 0  # whole-day flat bars at daily grain
            day_vals = []
            for h in range(HOURS):
                gh = d * HOURS + h
                # base value: exact 2dp lattice + occasional 1e-9 shavings so
                # round(…, 4..10) lands on ±0.0 boundaries
                v = 100.0 + u + ((gh * gh) % 11) * 0.01 - (gh % 13) * 1e-9
                if flat_day:
                    vals = [100.0 + u]  # one value all day
                else:
                    pat = gh % 6
                    if pat == 0:
                        vals = [v]                      # flat bar (1 event)
                    elif pat == 1:
                        vals = [v, v + 0.02]            # close == high
                    elif pat == 2:
                        vals = [v, v - 0.02]            # close == low
                    elif pat == 3:
                        vals = [v, v + 0.05, v + 0.01]  # interior close
                    elif pat == 4:
                        vals = [v, v]                   # flat bar (2 events)
                    else:
                        vals = [v, v - 1e-9]            # tiny negative delta
                if u == 8 and not flat_day:
                    vals = sorted(vals)  # last event of every hour is the max
                for k, val in enumerate(vals):
                    rows.append(
                        (
                            eid,
                            base + pd.Timedelta(days=d, hours=h, minutes=2 * k + 1),
                            u,
                            etypes[eid % 5],
                            round(val, 9),
                            '{"k": %d}' % (eid % 100),
                        )
                    )
                    eid += 1
                day_vals.extend(vals)
    return pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )


def main(wanted) -> int:
    from finance_data_pipeline_spark.registry import ORACLES
    from tools.mini_driver import run_probe

    names = sorted(
        n
        for n, sql in ORACLES.items()
        if ("bars AS (" in sql or "stocks AS (" in sql)
        and (not wanted or n in wanted)
    )
    return run_probe({"events": build_events_pdf()}, names, "adversarial bars")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
