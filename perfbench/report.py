"""Metric definitions and their computation from the op log and spans.

Every workload prints every metric: the end-to-end ones name an op
*role* (the workload's main op and side op), and a per-layer metric a
workload never exercises reads 0. ``PER_LAYER`` also records, for each
layer metric, the end-to-end metric it should move and on which
workload, as the traced run's report prints it. ``LOOKUP_LAYER`` holds
the point and slice metrics, which only ``lookup`` exercises and only
its traced run prints.
"""

from __future__ import annotations

import statistics

from .trace import union_length

#: (name, unit, better, bound) — bound is the share of the parent's
#: median by which the metric may worsen before a change is rejected
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_s_p50", "s", "lower", 0.25),
    ("side_op_s_p50", "s", "lower", 0.25),
    ("turns_per_s", "1/s", "higher", 0.25),
    ("bytes_per_turn", "B", "lower", 0.02),
]

COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
DECODE_KINDS = ["full", "proj", "point", "slice"]
MODULES = ["session", "partitioning", "encode_job", "checkpoint", "decode_job", "verify", "maintenance"]

_ENC = "op_s_p50 and turns_per_s on ingest; setup_s on scan and lookup"
_DEC = {
    "full": "op_s_p50 and turns_per_s on scan",
    "proj": "turns_per_s on scan",
    "point": "op_s_p50 on lookup",
    "slice": "side_op_s_p50 on lookup",
}
_CKPT = "op_s_p50 and side_op_s_p50 on lookup; op_s_p50 on ingest"

_DEC_METRICS = [("wall_s", "s"), ("jobs", "count"), ("tasks", "count"), ("python_run_s", "s"),
                ("blocks_touched", "count"), ("driver_gap_s", "s")]

#: (name, unit, should move)
PER_LAYER = (
    [("session.get_spark_s", "s", "setup_s on every workload"),
     ("partitioning.plan_s", "s", "op_s_p50 on ingest")]
    + [(f"encode_job.{m}", u, _ENC) for m, u in [
        ("wall_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("python_run_s", "s"), ("python_boot_s", "s"), ("arrow_bytes_to_python_per_turn", "B"),
        ("shuffle_bytes_per_turn", "B"), ("gc_s", "s")]]
    + [(f"codecs.encode_ns_per_turn.{c}", "ns", "turns_per_s on ingest") for c in COLUMNS]
    + [(f"codecs.decode_ns_per_turn.{c}", "ns", "turns_per_s on scan; no move on lookup")
       for c in COLUMNS]
    + [(f"codecs.bytes_per_turn.{c}", "B", "bytes_per_turn on every workload") for c in COLUMNS]
    + [("checkpoint.committed_blocks_s", "s", _CKPT),
       ("checkpoint.committed_blocks.jobs", "count", _CKPT),
       ("checkpoint.visible_triples_s", "s", _CKPT),
       ("checkpoint.visible_triples.jobs", "count", _CKPT),
       ("tableio.output_bytes_per_turn", "B", "bytes_per_turn on every workload"),
       ("tableio.input_bytes_per_op", "B", "op_s_p50 on every workload")]
    + [(f"decode_job.{k}.{m}", u, _DEC[k]) for k in ("full", "proj") for m, u in _DEC_METRICS]
    + [("verify.digest_s", "s", "side_op_s_p50 on scan"),
       ("verify.jobs", "count", "side_op_s_p50 on scan")]
    + [(f"maintenance.{m}", u, "side_op_s_p50 and turns_per_s on ingest") for m, u in [
        ("compact_s", "s"), ("compacted_groups", "count"), ("blocks_before", "count"),
        ("blocks_after", "count"), ("vacuum_s", "s"), ("bytes_reclaimed", "B"),
        ("write_amp", "ratio")]]
    + [(f"{mod}.self_s", "s", "diagnostic: layer self time") for mod in MODULES]
    # the session span closes before the tracer reads counters, so it has none
    + [(f"{mod}.failed_tasks", "count", "diagnostic: failed ops") for mod in MODULES[1:]]
    + [(f"{mod}.executor_cpu_s", "s", "diagnostic") for mod in MODULES[1:]]
    + [("trace.overhead_s_per_op", "s", "none: tracing cost inside each traced op"),
       ("machine.probe_s", "s", "none: machine-speed probe, recorded, never divided by"),
       ("machine.steal_share", "ratio", "none: CPU steal during the timed ops, recorded, never divided by"),
       ("machine.k", "count", "none: cores of local[k]")]
)

LOOKUP_LAYER = [(f"decode_job.{k}.{m}", u, _DEC[k]) for k in ("point", "slice") for m, u in _DEC_METRICS]


def layer_spec(workload: str) -> list:
    """The per-layer metrics a workload's traced run prints."""
    return PER_LAYER + (LOOKUP_LAYER if workload == "lookup" else [])


#: the op each workload's tableio.input_bytes_per_op reads from
MAIN_LEAF = {"ingest": "encode_job.encode_table", "scan": "decode_job.full", "lookup": "decode_job.point"}


def end_to_end(ctx, workload, setup_s: float, live_bytes: int, live_turns: int) -> dict:
    timed = [o for o in ctx.ops if o["phase"] == "timed"]
    wall = sum(o["wall"] for o in timed)
    main, side = ctx.timed(workload.main_kind), ctx.timed(workload.side_kind)
    return {
        "setup_s": setup_s,
        "op_s_p50": statistics.median(main) if main else 0.0,
        "side_op_s_p50": statistics.median(side) if side else 0.0,
        "turns_per_s": sum(o["turns"] for o in timed if o["ok"]) / wall if wall else 0.0,
        "bytes_per_turn": live_bytes / live_turns if live_turns else 0.0,
    }


def tail(walls: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(walls)
    if n < 11:
        return {"n": n, "value": None}
    rank = n - 10  # 1-based rank of the value with ten samples above it
    return {"n": n, "rank": rank, "pct": 100.0 * rank / n, "value": sorted(walls)[rank - 1]}


class Spans:
    """Spans of one run, with each span's phase inherited from its root."""

    def __init__(self, spans: list[dict]):
        self.by_id = {s["id"]: s for s in spans}
        self.children: dict = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)
        for s in spans:
            p = s
            while "phase" not in p and p["parent"] in self.by_id:
                p = self.by_id[p["parent"]]
            s["_phase"] = p.get("phase", "setup")
            s["_wall"] = s["end"] - s["start"]
        self.spans = spans

    def named(self, name: str, warmup: bool = False) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and (warmup or s["_phase"] != "warmup")]

    def self_time(self, s: dict) -> float:
        return s["_wall"] - union_length((c["start"], c["end"]) for c in self.children.get(s["id"], []))

    def trace_cost(self, root: dict) -> float:
        """What tracing adds inside one op: the tracer's own time around
        each span below ``root`` (counter reads, job groups) plus the
        spans that only traced runs make."""
        cost, stack = 0.0, list(self.children.get(root["id"], []))
        while stack:
            s = stack.pop()
            cost += s.get("trace_s", 0.0) + (s["_wall"] if s.get("traced_only") else 0.0)
            stack.extend(self.children.get(s["id"], []))
        return cost


def _med(spans: list[dict], key: str, integer: bool = False) -> float:
    vals = [s.get(key, 0) for s in spans]
    if not vals:
        return 0
    return statistics.median_low(vals) if integer else statistics.median(vals)


def per_layer(workload, spans: list[dict], codecs: dict, live_bytes: int,
              probe_s: float, steal: float, k: int) -> dict:
    sp = Spans(spans)
    m: dict = {}
    (session,) = sp.named("session.get_spark") or [{"_wall": 0.0}]
    m["session.get_spark_s"] = session["_wall"]
    m["partitioning.plan_s"] = _med(sp.named("partitioning.plan"), "_wall")

    enc = sp.named("encode_job.encode_table")
    enc_turns = sum(s.get("turns", 0) for s in enc) or 1
    m["encode_job.wall_s"] = _med(enc, "_wall")
    for key in ("jobs", "stages", "tasks"):
        m[f"encode_job.{key}"] = _med(enc, key, integer=True)
    for key in ("python_run_s", "python_boot_s", "gc_s"):
        m[f"encode_job.{key}"] = _med(enc, key)
    m["encode_job.arrow_bytes_to_python_per_turn"] = sum(s.get("bytes_to_python", 0) for s in enc) / enc_turns
    m["encode_job.shuffle_bytes_per_turn"] = sum(s.get("shuffle_bytes", 0) for s in enc) / enc_turns

    for col in COLUMNS:
        for key in ("encode_ns_per_turn", "decode_ns_per_turn", "bytes_per_turn"):
            m[f"codecs.{key}.{col}"] = codecs.get(col, {}).get(key, 0.0)

    for name in ("committed_blocks", "visible_triples"):
        probes = sp.named(f"checkpoint.{name}")
        m[f"checkpoint.{name}_s"] = _med(probes, "_wall")
        m[f"checkpoint.{name}.jobs"] = _med(probes, "jobs", integer=True)

    m["tableio.output_bytes_per_turn"] = sum(s.get("output_bytes", 0) for s in enc) / enc_turns
    m["tableio.input_bytes_per_op"] = _med(sp.named(MAIN_LEAF[workload.name]), "input_bytes", integer=True)

    for kind in DECODE_KINDS:
        dec = sp.named(f"decode_job.{kind}")
        m[f"decode_job.{kind}.wall_s"] = _med(dec, "_wall")
        for key in ("jobs", "tasks"):
            m[f"decode_job.{kind}.{key}"] = _med(dec, key, integer=True)
        m[f"decode_job.{kind}.python_run_s"] = _med(dec, "python_run_s")
        m[f"decode_job.{kind}.blocks_touched"] = _med(dec, "python_rows_in", integer=True)
        m[f"decode_job.{kind}.driver_gap_s"] = _med(dec, "driver_gap_s")

    ver = sp.named("verify.digest")
    m["verify.digest_s"] = _med(ver, "_wall")
    m["verify.jobs"] = _med(ver, "jobs", integer=True)

    comp, vac = sp.named("maintenance.compact"), sp.named("maintenance.vacuum")
    m["maintenance.compact_s"] = _med(comp, "_wall")
    for key in ("compacted_groups", "blocks_before", "blocks_after"):
        m[f"maintenance.{key}"] = _med(comp, key, integer=True)
    m["maintenance.vacuum_s"] = _med(vac, "_wall")
    m["maintenance.bytes_reclaimed"] = _med(vac, "bytes_reclaimed", integer=True)
    written = sum(
        s.get("output_bytes", 0)
        for name in ("encode_job.encode_table", "maintenance.compact", "maintenance.vacuum")
        for s in sp.named(name, warmup=True)
    )
    m["maintenance.write_amp"] = written / live_bytes if live_bytes else 0.0

    for mod in MODULES:
        own = [s for s in sp.spans if s["name"].split(".")[0] == mod and s["_phase"] != "warmup"]
        m[f"{mod}.self_s"] = sum(sp.self_time(s) for s in own)
        if mod != "session":
            m[f"{mod}.failed_tasks"] = sum(s.get("failed_tasks", 0) for s in own)
            m[f"{mod}.executor_cpu_s"] = sum(s.get("executor_cpu_s", 0.0) for s in own)

    roots = [s for s in sp.spans if s["name"].startswith("op.") and s["_phase"] == "timed"]
    m["trace.overhead_s_per_op"] = statistics.median(
        [sp.trace_cost(s) for s in roots]
    ) if roots else 0.0
    m["machine.probe_s"] = probe_s
    m["machine.steal_share"] = steal
    m["machine.k"] = k
    return m
