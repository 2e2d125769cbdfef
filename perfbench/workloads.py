"""The benchmark's workloads.

Each workload is a fixed query set over one generated scale factor, run
as a closed loop: one client (the benchmark process) submits one query at
a time and starts the next only when the previous one has finished, on
``local[N]`` with N the usable cores.  The workload seed only sets the
query order inside each pass.

Each query runs ``REPS`` times back to back inside a pass, and the
session frame cache is emptied before every query-rep, so each number is
the query's full cost and no query rides on frames a sibling pinned.

The query lists are subsets chosen so that a run, which also starts a
JVM, sets the session up three times and runs the untimed check pass,
stays under a minute on a 4-core host.  Each list says what it leaves
out.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]


REPS = 3


#: The reference's Flink jobs rebuilt as Spark queries (the paper's own
#: surface), minus the eight cheapest at sf0.1, whose time is mostly
#: fixed per-query cost: page_view_count (also the warm-up query),
#: unique_visitors, app_marketing_by_channel, app_marketing_total,
#: pattern_view_then_purchase, ad_blacklist_passed, ad_blacklist_warnings
#: and login_fail_detect.
EC_REFERENCE = (
    "hot_items_topn", "unique_visitors_approx", "order_fulfillment_status",
    "top_urls", "interval_join_shipments", "ad_clicks_by_province",
    "pattern_funnel_3step", "login_fail_burst", "tx_match",
)

#: One ``bench.DRIVER50`` member per extension family (TPC-H rollups,
#: patterns, sessions, text, dedup, ANN, multimodal, approximate
#: quantiles), so plan assembly, eager builds and frame pins all run.
REGISTRY = (
    "pricing_summary", "region_revenue", "pattern_optional_funnel",
    "sessionize_users", "text_fingerprint", "dedup_minhash_lsh", "ann_brute_force_topk",
    "multimodal_decode_meta", "windowed_value_quantiles_approx",
)

#: Streaming replays: one on the generic CEP engine (``cep``) and two on
#: hand-written NFA kernels (login-fail, pattern sequence).  The
#: order-timeout replay is left out to fit the budget (about 4 s a rep
#: even at sf0.001), and ``streaming_asof_replay`` cannot run here: it
#: writes its reference side to a fixed path under /tmp, outside the
#: checkout.
STREAMING = (
    "streaming_cep_replay", "streaming_login_fail_replay",
    "streaming_pattern_sequence_replay",
)


def _driver50() -> list[str]:
    """``bench.DRIVER50``, the pinned 50-query set, imported from the
    repository's ``bench.py``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)
    import bench

    return list(bench.DRIVER50)


def workloads() -> dict[str, Workload]:
    """The workloads by name; their reasons are in BENCHMARK.json."""
    outside = set(EC_REFERENCE + REGISTRY) - set(_driver50())
    if outside:
        raise ValueError(f"not in bench.DRIVER50: {sorted(outside)}")
    ws = [
        Workload("ec_reference_sf0.1", 0.1, EC_REFERENCE),
        Workload("registry_cold_sf0.001", 0.001, REGISTRY + STREAMING),
    ]
    return {w.name: w for w in ws}
