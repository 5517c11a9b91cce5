"""The end-to-end batch DAG — the Spark restatement of the reference's three
processes (SURVEY.md §3.4):

    chunks → parse(envelope) → gate flags → [reassemble | held] → enrich(broadcast)
           → per-sink fan-out → sink aggregates (+ new checkpoint state)

One plan function, ``plan_from_flags``, turns gate flags (``_gate_flags``
output: the deduped live chunks, each marked accepted or not) into every
result a pass needs. ``run_pipeline`` feeds it the gate flags as a lazy
plan; ``job.run_job`` feeds it the same flags after writing them once to a
staging snapshot. Either way, reassembled, enriched, held and the new
checkpoint all derive from one gate computation.

Shuffle inventory (the thing that matters at 10^12 rows):
  1. ONE wide shuffle on (doc_id, session) for the gate — irreducible: the
     operator is a per-stream total order. The reassembly aggregate reuses
     its partitioning.
  2. The enrich join is broadcast — no shuffle.
  3. sink_counts is a partial-agg hash aggregate — shuffles one row per
     (task × sink).
  4. The fan-out write adds one salted repartition, only when writing.
Everything before the gate shuffle (parse, projections) is narrow and
pipelined into the shuffle-map stage; Catalyst prunes chunk columns read from
parquet down to (envelope, chunk_tokens, source).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame

from ..operators.aggregate import sink_counts
from ..operators.enrich import enrich
from ..operators.parse import split_rejects
from ..operators.reassemble import _gate_flags, held_from_flags, reassemble_from_flags
from ..operators.route import route_write


@dataclass
class PipelineResult:
    reassembled: DataFrame  # (doc_id, session, tokens, n_tok, source, last_seq_out)
    enriched: DataFrame     # + (sink, priority)
    counts: DataFrame       # per-sink aggregates
    checkpoint_out: DataFrame  # (doc_id, session, last_seq) of the streams that advanced
    held: DataFrame         # chunks not consumed this run, full payload
    rejects: DataFrame | None = None  # dead-letter: envelopes that failed the parse


def plan_from_flags(flagged: DataFrame, routes: DataFrame) -> PipelineResult:
    """Everything downstream of the gate, from its flags: reassembled
    streams, enriched rows, per-sink counts, the checkpoint rows of the
    streams that emitted this run, and the held chunks. ``rejects`` is left
    to the caller, which owns the parse."""
    reassembled = reassemble_from_flags(flagged)
    enriched = enrich(reassembled, routes)
    return PipelineResult(
        reassembled=reassembled,
        enriched=enriched,
        counts=sink_counts(enriched),
        checkpoint_out=reassembled.selectExpr(
            "doc_id", "session", "cast(last_seq_out as long) as last_seq"
        ),
        held=held_from_flags(flagged),
    )


def run_pipeline(
    chunks: DataFrame,
    routes: DataFrame,
    checkpoint: DataFrame | None = None,
    out_dir: str | None = None,
) -> PipelineResult:
    """parse → gate → ``plan_from_flags``, one lazy plan.

    Malformed envelopes go to ``result.rejects`` (dead-letter), never into
    the gate: a null doc_id/seq row would silently evaluate false in the
    gate predicates and vanish — at 100 TB, silent drop of corrupt input is
    the one failure mode a pipeline cannot have."""
    parsed, rejects = split_rejects(chunks)
    res = replace(
        plan_from_flags(_gate_flags(parsed, checkpoint), routes), rejects=rejects
    )
    if out_dir is not None:
        route_write(res.enriched, out_dir)
    return res
