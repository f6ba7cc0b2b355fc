"""Which public engine calls make up each layer, and the per-layer
metrics computed from the spans of one traced run.

Every layer reports the same generic set (``GENERIC``) plus the
layer-specific metrics in ``SPECIFIC``; a layer a workload never calls
reports zeros.
"""

from __future__ import annotations

import os

from scoobie_spark import facts, graph, linking, pipeline, serialize, session, spotting, textproc
from scoobie_spark.extras import codegraph
from scoobie_spark.kb import etl
from scoobie_spark.kb.model import KB

from . import sparkstats
from .tracer import Hook, Span, Tracer

LAYERS = ["session", "kb", "pipeline", "textproc", "spotting", "linking", "serialize", "codegraph", "graph"]
GENERIC = ["wall_s", "cpu_s", "slot_util", "shuffle_mb", "spill_mb", "rows_out", "task_skew"]
SPECIFIC = [
    "session.start_s", "session.warmup_s",
    "kb.build_s", "kb.relations_rows", "kb.literals_rows",
    "pipeline.spread_s", "pipeline.stage_s.candidates", "pipeline.stage_s.resolved",
    "pipeline.stage_s.summary", "pipeline.stage_s.triples", "pipeline.checkpoint_mb",
    "textproc.udf_s", "textproc.docs_in", "textproc.content_mb", "textproc.candidates_out",
    "spotting.mentions_out", "spotting.hit_ratio",
    "linking.adjacency_s", "linking.adjacency_built", "linking.edge_rows", "linking.udf_s",
    "linking.resolved_out",
    "serialize.dedup_ratio", "serialize.triples_out",
    "codegraph.deps_s", "codegraph.xref_s", "codegraph.families_s", "codegraph.content_scans",
    "graph.cc_s",
]
TRACE = ["trace.wall_s", "trace.overhead", "trace.coverage"]
STAGES = ["candidates", "resolved", "summary", "triples"]


def metric_names() -> list[str]:
    return [f"{layer}.{m}" for layer in LAYERS for m in GENERIC] + SPECIFIC + TRACE


def unit(name: str) -> str:
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("slot_util", "task_skew", "_ratio", "coverage", "overhead")):
        return "ratio"
    if name.endswith("adjacency_built"):
        return "flag"
    return "count"


# -- hooks ----------------------------------------------------------------
def _note_adjacency(sp: Span, args, bc) -> None:
    sp.notes["built"] = int(bc is not None)
    if bc is not None:
        sp.notes["edge_rows"] = sum(len(v) for v in bc.value.values()) // 2


def _note_summary(sp: Span, args, out) -> None:
    sp.pending["summary_rows"] = args[0]


SETUP_HOOKS = [
    Hook(session, "get_spark", "session"),
    Hook(session, "warm_up", "session"),
    Hook(etl, "build_kb_from_string_triples", "kb"),
]

ITERATION_HOOKS = [
    Hook(pipeline, "extract_triples", "pipeline"),
    Hook(pipeline, "spread_input", "pipeline"),
    # a projection; the scan it feeds is timed under textproc
    Hook(textproc, "with_doc_id", "pipeline", materialize=False),
    Hook(KB, "materialize", "kb"),
    Hook(KB, "gazetteer", "kb"),
    Hook(KB, "uri_ids", "kb"),
    Hook(textproc, "suffix_candidates", "textproc", udf=True),
    Hook(spotting, "join_gazetteer", "spotting"),
    Hook(linking, "kb_adjacency_broadcast", "linking", note=_note_adjacency),
    Hook(linking, "expansion_edges", "linking"),
    Hook(linking, "spot_resolve", "linking", udf=True),
    Hook(linking, "subject_types", "serialize", note=_note_summary),
    Hook(facts, "known_facts", "serialize"),
    Hook(serialize, "recognized_triples", "serialize"),
    Hook(serialize, "known_triples", "serialize"),
    Hook(codegraph, "kg_triples", "codegraph"),
    Hook(codegraph, "repo_dependencies", "codegraph"),
    Hook(codegraph, "symbol_xref", "codegraph"),
    Hook(codegraph, "repo_families", "codegraph"),
    Hook(graph, "connected_components", "graph"),
]


# -- report ---------------------------------------------------------------
def generic(tracer: Tracer, spans: list[Span], t0: float, t1: float, spark, cores: int) -> dict:
    """The generic metrics of every layer over the spans' [t0, t1]."""
    wall, cpu = tracer.self_times(spans, t0, t1)
    out = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        totals = sparkstats.StageTotals()
        for s in mine:
            if s.group:
                totals.add(sparkstats.stage_totals(spark, sparkstats.group_stage_ids(spark, s.group)))
        w = sum(wall.get(s.id, 0.0) for s in mine)
        out.update({
            f"{layer}.wall_s": w,
            f"{layer}.cpu_s": sum(cpu.get(s.id, 0.0) for s in mine),
            f"{layer}.slot_util": totals.run_s / (w * cores) if w else 0.0,
            f"{layer}.shuffle_mb": totals.shuffle_mb,
            f"{layer}.spill_mb": totals.spill_mb,
            f"{layer}.rows_out": float(sum(s.rows or 0 for s in mine)),
            f"{layer}.task_skew": totals.task_skew,
        })
    return out


def _dur(spans: list[Span], name: str) -> float:
    return sum(s.end - s.start for s in spans if s.name == name)


def _rows(spans: list[Span], name: str) -> float:
    return float(sum(s.rows or 0 for s in spans if s.name == name))


def _note(spans: list[Span], name: str, key: str) -> float:
    return float(sum(s.notes.get(key, 0) for s in spans if s.name == name))


def specific(spans: list[Span], cfg, shape: dict) -> dict:
    """Layer-specific metrics of one traced run (set-up layers excluded)."""
    stage_s = {m["stage"]: m["wall_sec"] for m in (cfg.metrics if cfg else [])}
    ckpt = cfg.checkpoint_dir if cfg else None
    cand = _rows(spans, "textproc.suffix_candidates")
    mentions = _rows(spans, "spotting.join_gazetteer")
    resolved = _rows(spans, "linking.spot_resolve")
    summary = _note(spans, "linking.subject_types", "summary_rows")
    uses_text = any(s.layer == "textproc" for s in spans)
    return {
        "kb.relations_rows": float(shape.get("relations_rows", 0)),
        "kb.literals_rows": float(shape.get("literals_rows", 0)),
        "pipeline.spread_s": _dur(spans, "pipeline.spread_input"),
        **{f"pipeline.stage_s.{st}": float(stage_s.get(st, 0.0)) for st in STAGES},
        "pipeline.checkpoint_mb": _dir_mb(ckpt) if ckpt else 0.0,
        "textproc.udf_s": sum(s.udf_s for s in spans if s.layer == "textproc"),
        "textproc.docs_in": float(shape.get("docs", 0)) if uses_text else 0.0,
        "textproc.content_mb": float(shape.get("content_mb", 0)) if uses_text else 0.0,
        "textproc.candidates_out": cand,
        "spotting.mentions_out": mentions,
        "spotting.hit_ratio": mentions / cand if cand else 0.0,
        "linking.adjacency_s": _dur(spans, "linking.kb_adjacency_broadcast"),
        "linking.adjacency_built": _note(spans, "linking.kb_adjacency_broadcast", "built"),
        "linking.edge_rows": _note(spans, "linking.kb_adjacency_broadcast", "edge_rows")
        + _rows(spans, "linking.expansion_edges"),
        "linking.udf_s": sum(s.udf_s for s in spans if s.layer == "linking"),
        "linking.resolved_out": resolved,
        "serialize.dedup_ratio": summary / resolved if resolved else 0.0,
        "serialize.triples_out": _rows(spans, "serialize.recognized_triples")
        + _rows(spans, "serialize.known_triples"),
        "codegraph.deps_s": _dur(spans, "codegraph.repo_dependencies"),
        "codegraph.xref_s": _dur(spans, "codegraph.symbol_xref"),
        "codegraph.families_s": _dur(spans, "codegraph.repo_families"),
        "graph.cc_s": _dur(spans, "graph.connected_components"),
    }


def setup_specific(spans: list[Span]) -> dict:
    return {
        "session.start_s": _dur(spans, "session.get_spark"),
        "session.warmup_s": _dur(spans, "session.warm_up"),
        "kb.build_s": _dur(spans, "etl.build_kb_from_string_triples"),
    }


def _dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20
