"""Per-layer metrics of a traced run, derived from its spans.

Each layer metric and the end-to-end metric it should move:

* ``session.start_s`` -> ``setup_s`` (every workload).
* ``registry.build_s``, ``registry.build_jobs`` (construction time and
  the jobs started before the sink, per round) -> ``op_p50_s`` on
  market_analytics, ``wall_s`` on corpus_curation.
* ``spark.*`` (per round, summed over every job group) -> ``op_p50_s``
  on market_analytics, ``wall_s`` on corpus_curation.
* ``io.*``, ``ingest.build_s`` (per ingest cycle) -> ``wall_s`` on
  market_analytics; ``io.space_amp`` is bytes on disk of both stores
  after a cycle over the bytes of their newest versions.
* ``extensions.<module>.<stage>.*`` -> ``wall_s`` on corpus_curation.
* ``market.<query>.*`` -> ``op_p50_s`` on market_analytics.
* ``trace.overhead_s``: time per round spent reading counters.

A layer a workload does not touch reads 0.
"""

from __future__ import annotations

from statistics import median

from spans import COUNTERS
from workloads import CORPUS_STAGES, MARKET_QUERIES

_EXEC = ("io.write", "summary.read_back")


def _is_build(name: str) -> bool:
    return name.endswith(".build") and name.startswith(("market.", "extensions."))


def _is_exec(name: str) -> bool:
    return name.endswith(".exec") or name in _EXEC


def _unit(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    return "bytes" if counter.endswith("_bytes") else "count"


def layer_metrics(workload, tracer, session_start_s: float) -> dict:
    """Metric name -> (value, unit), in the order BENCHMARK.json lists them."""
    spans = [s for s in tracer.spans if s.get("round") is not None and s["name"] != "round"]
    n_rounds = len(workload.round_wall)

    def per_round(pred, key="dur"):
        """Median over rounds of ``key`` summed over the spans ``pred`` names."""
        return median(
            [sum(s.get(key, 0) for s in spans if s["round"] == r and pred(s["name"])) for r in range(n_rounds)]
        )

    out = {
        "session.start_s": (session_start_s, "s"),
        "registry.build_s": (per_round(_is_build), "s"),
        "registry.build_jobs": (per_round(_is_build, "jobs"), "count"),
        "spark.exec_s": (per_round(_is_exec), "s"),
    }
    for c in COUNTERS:
        out[f"spark.{c}"] = (per_round(lambda n: True, c), _unit(c))

    job = getattr(workload, "ingest", None)
    written = job.written if job else []
    amp = job.space_amp if job else []
    cycles = max(len(amp), 1)  # one timed cycle per round

    def per_cycle(names):
        return sum(s["dur"] for s in spans if s["name"] in names) / cycles

    out["io.write_s"] = (per_cycle(("io.write",)), "s")
    out["io.read_s"] = (per_cycle(("io.read", "summary.read_back")), "s")
    out["io.bytes_written"] = (sum(b for _, b in written) / cycles, "bytes")
    out["io.files_written"] = (sum(f for f, _ in written) / cycles, "count")
    out["ingest.build_s"] = (per_cycle(("ingest.build",)), "s")
    out["io.space_amp"] = (median(amp) if amp else 0.0, "x")

    for stage, module in CORPUS_STAGES.items():
        prefix = f"{module}.{stage}"
        both = (f"{prefix}.build", f"{prefix}.exec")
        out[f"{prefix}.wall_s"] = (per_round(lambda n: n in both), "s")
        out[f"{prefix}.build_jobs"] = (per_round(lambda n: n == both[0], "jobs"), "count")
        out[f"{prefix}.cpu_s"] = (per_round(lambda n: n in both, "cpu_s"), "s")
        shuffle = sum(per_round(lambda n: n in both, k) for k in ("shuffle_read_bytes", "shuffle_write_bytes"))
        out[f"{prefix}.shuffle_bytes"] = (shuffle, "bytes")

    for q in MARKET_QUERIES:
        for phase in ("build", "exec"):
            span = f"market.{q}.{phase}"
            out[f"{span}_s"] = (per_round(lambda n: n == span), "s")

    out["trace.overhead_s"] = (tracer.overhead_s / max(n_rounds, 1), "s")
    return out
