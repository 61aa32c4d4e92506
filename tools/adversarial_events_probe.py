#!/usr/bin/env python
"""Adversarial degenerate-shape probe for every NON-BAR events-based
oracle query (funnels, sessions, retention, attribution, Markov,
drift, sketches, streaming ops).

Third member of the probe family (bars: signed zero / flat windows;
docs: NULL vectors / empty texts). The driver events corpus is a
smooth synthetic stream: no timestamp ties, no same-instant funnels,
no session-gap boundary hits, no value ties, no retry duplicates, no
malformed props. Real clickstreams contain all of those. This probe
CONCENTRATES them:

- a user whose events ALL share one timestamp (window ORDER BY ts
  tie-breaking), and a user with a single event ever
- inter-event gaps exactly AT / just under / just over the 30-minute
  session boundary (tests > vs >=)
- a view→click→purchase funnel at the SAME instant, and one in
  reverse order
- value ties across users, zeros, negatives, ±1e-9 (rounds to ±0.0 —
  the signed-zero class, now on the events family), 1e9 outliers
- midnight / month-end / leap-day / period boundary timestamps
- a 200-event one-minute burst followed by silence
- retry duplicates: same (ts, user, type, value, props) under
  distinct event_ids
- props JSON: empty object, missing key, nested extra keys, NULL,
  and malformed text

then replays the mini-driver compare (strict signbit-sensitive
comparator), Spark vs DuckDB on the same parquet. Run after touching
event/session/attribution expressions:

    python tools/adversarial_events_probe.py                 # all
    python tools/adversarial_events_probe.py session_windows # subset
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ETYPES = ["view", "click", "purchase", "signup", "error"]


def build_events_pdf():
    """Deterministic adversarial events: index arithmetic only, no RNG."""
    import pandas as pd

    rows = []

    def add(ts, user, etype, value, props='{"k": 1}', eid=None):
        rows.append(
            (
                len(rows) if eid is None else eid,
                pd.Timestamp(ts),
                user,
                etype,
                float(value),
                props,
            )
        )

    base = pd.Timestamp("2024-01-01 08:00:00")
    H = pd.Timedelta(hours=1)
    M = pd.Timedelta(minutes=1)
    S = pd.Timedelta(seconds=1)

    # u0: one event ever (single-row windows, lag/lead NULLs)
    add(base, 0, "view", 10.0)
    # u1: 40 events at ONE identical timestamp — ts-tie torture for
    # every ORDER BY ts window; types cycle, values tie in pairs
    for i in range(40):
        add(base + 2 * H, 1, ETYPES[i % 5], 50.0 + (i // 2) % 7)
    # u2: session-gap boundary — deltas exactly 30min / 30min−1s /
    # 30min+1s between consecutive events
    t = base
    for i, delta in enumerate(
        [30 * M, 30 * M - S, 30 * M + S, 30 * M, 29 * M, 31 * M] * 3
    ):
        add(t, 2, ETYPES[i % 5], 20.0 + i)
        t = t + delta
    # u3: reverse funnel (purchase before click before view)
    add(base + 1 * H, 3, "purchase", 99.0)
    add(base + 2 * H, 3, "click", 5.0)
    add(base + 3 * H, 3, "view", 1.0)
    # u4: whole funnel at the SAME instant (strict > vs >= ordering)
    for et in ("view", "click", "purchase"):
        add(base + 5 * H, 4, et, 7.0)
    # u5: boundary timestamps — midnight, month end ±1µs, leap day,
    # quarter end
    for ts in (
        "2024-01-01 00:00:00",
        "2024-01-31 23:59:59.999999",
        "2024-02-01 00:00:00",
        "2024-02-29 12:00:00",
        "2024-03-31 23:59:59",
    ):
        add(ts, 5, "view", 11.0)
        add(ts, 5, "purchase", 13.0)
    # u6: 100 identical values (decile/rank/histogram ties)
    for d in range(100):
        add(base + d * H, 6, ETYPES[d % 5], 42.0)
    # u7: pathological values — zeros, negatives, ±1e-9 (rounds to
    # ±0.0 at output precision), 1e9 outliers, exact cross-user ties
    vals = [0.0, -0.0, 1e-9, -1e-9, -5.5, 1e9, -1e9, 42.0, 50.0, 0.5, -0.5, 2.5]
    for d in range(60):
        add(base + d * H + 7 * M, 7, ETYPES[d % 5], vals[d % len(vals)])
    # u8: single-type user (error only) — degenerate transition matrix
    for d in range(20):
        add(base + d * 3 * H, 8, "error", 3.0)
    # u9: 200-event burst inside one minute, then 30 days of silence,
    # then one event (burstiness, DAU/WAU, decay)
    for i in range(200):
        add(base + i * pd.Timedelta(milliseconds=300), 9, ETYPES[i % 5], 1.0 + i % 3)
    add(base + pd.Timedelta(days=30), 9, "view", 8.0)
    # u10: exactly one event per week (retention cohort edges)
    for w in range(10):
        add(base + w * pd.Timedelta(days=7), 10, "click", 15.0)
    # u11: strict two-type alternation (deterministic Markov chain)
    for i in range(40):
        add(base + i * 2 * H, 11, "view" if i % 2 == 0 else "click", 6.0)
    # u12: retry duplicates — identical payload rows, distinct ids
    for r in range(3):
        add(base + 9 * H, 12, "purchase", 77.0, '{"k": 9}')
    # u13: props JSON edge cases — empty object, missing key, nested
    # extras, NULL, malformed
    add(base + 10 * H, 13, "view", 1.0, "{}")
    add(base + 11 * H, 13, "view", 2.0, '{"other": 4}')
    add(base + 12 * H, 13, "view", 3.0, '{"k": 5, "m": {"x": 1}}')
    add(base + 13 * H, 13, "view", 4.0, None)
    add(base + 14 * H, 13, "view", 5.0, "{not json}")
    # u14: bulk ordinary traffic so rates/cohorts have mass — hourly
    # events over 45 days, deterministic type/value mix
    for d in range(45):
        for h in range(0, 24, 3):
            g = d * 24 + h
            add(
                pd.Timestamp("2024-01-01") + d * pd.Timedelta(days=1) + h * H,
                14 + g % 4,  # users 14-17
                ETYPES[(g * g) % 5],
                100.0 + (g * 13) % 97 + (g % 7) * 0.25,
                '{"k": %d}' % (g % 100),
            )

    return (
        __import__("pandas")
        .DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        )
        .astype({"event_id": "int64", "user_id": "int64"})
    )


def main(wanted) -> int:
    from finance_data_pipeline_spark.registry import ORACLES
    from tools.mini_driver import run_probe

    names = sorted(
        n
        for n, sql in ORACLES.items()
        if "events" in sql
        and "bars AS (" not in sql
        and "stocks AS (" not in sql
        and (not wanted or n in wanted)
    )
    return run_probe({"events": build_events_pdf()}, names, "adversarial events")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
