"""The graph kernels carry no keyword option that no call site sets:
``tools/dead_options.py`` over the graph layer reports only
``num_partitions``, the width override every kernel shares. Spark-free."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

_GRAPH_OPERATORS = (
    "_superstep", "pagerank", "components", "labelprop", "sssp", "scc",
    "kcore", "ktruss", "msf", "centrality", "graph", "incremental",
    "temporal", "densest", "cascade", "paths", "triangles", "bowtie",
    "hits", "eigencentrality", "push", "wl",
)
SCANNED = [f"igpm_pem_spark/operators/{m}.py" for m in _GRAPH_OPERATORS] + [
    "igpm_pem_spark/plans/pattern.py",
    "igpm_pem_spark/streaming/stream.py",
]
# the corpus (non-graph) streams of stream.py are outside the graph layer
CORPUS_STREAMS = {
    "dedup_stream", "windowed_event_counts", "sessionize_stream",
    "interval_join_stream", "cms_counters_stream", "new_returning_stream",
}


def _dead_options():
    spec = importlib.util.spec_from_file_location(
        "dead_options", ROOT / "tools" / "dead_options.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve their module by name
    spec.loader.exec_module(mod)
    return mod.dead_options


def test_graph_kernels_have_no_dead_options():
    left = [
        f"{path}:{line} {fn}({param})"
        for path, line, fn, param in _dead_options()(SCANNED)
        if param != "num_partitions" and fn not in CORPUS_STREAMS
    ]
    assert left == []
