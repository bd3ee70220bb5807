"""Distributed sketch building: partial per-partition build (mapInArrow),
salted tree-merge (applyInArrow rounds), checkpointed lineage, probing."""

from .agg import SketchSpec, build_sketch, build_grouped_sketches, partial_sketches, tree_merge
from .probe import probe_hashes

__all__ = [
    "SketchSpec", "build_sketch", "build_grouped_sketches",
    "partial_sketches", "tree_merge", "probe_hashes",
]
