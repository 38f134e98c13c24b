"""The hexspark ER pipeline: assemble → fingerprint → block → score →
cluster → evaluate, with checkpointed, resumable stages.

Stage map (SURVEY.md §2.3); B2-B10 name what runner.Runner.run calls:
    B1  scan            spark.read (scripts/run_pipeline.py)
    B2  assembly        assemble.assemble_conversations
    B3  fingerprint     simhash.signatures
    B4  blocking        blocking.candidate_pairs_wide
    B5  skew handling   blocking.banded_with_skew_gate + salted chains
    B6  scoring         scoring.score_wide (thin pairs: score_and_match)
    B7  match filter    scoring.score_wide (codegen max_dist gate)
    B8  clustering      clustering.connected_components
    B9  canonical ids   clustering (min conv_id per component)
    B10 sinks+lineage   runner.Runner / metrics.partition_metrics
    B11 probe query     probe.first_match_index
    B12 evaluation      evaluate.pairwise_f1
"""

from .assemble import assemble_conversations
from .simhash import signatures
from .blocking import band_projection, candidate_pairs, candidate_pairs_wide
from .scoring import score_wide, match_edges
from .clustering import connected_components
from .evaluate import pairwise_f1

__all__ = [
    "assemble_conversations",
    "signatures",
    "band_projection",
    "candidate_pairs",
    "candidate_pairs_wide",
    "score_wide",
    "match_edges",
    "connected_components",
    "pairwise_f1",
]
