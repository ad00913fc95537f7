"""Shared measurement constants — importable WITHOUT the engine.

``bench.py``'s module top level imports the full plans REGISTRY /
session chain (it has to — it runs queries), so any tool that imported
a constant *from bench* paid that whole import cost, and inherited any
registry import failure, before even parsing its own args (ADVICE r13
on ``tools/ab_compare.py``). Constants shared across measurement tools
live here instead; ``bench.py`` re-exports them so existing
``bench.BOX_LOAD_THRESHOLD_1M`` readers keep working and the
single-source-of-truth test (``tests/test_ab_compare.py``) still pins
the two views equal. ``perfbench/`` imports ``HEADLINE`` and the steal
helpers from here (pinned by ``tests/test_root_imports.py``).
"""

#: Headline set: reference-app parity + the heavy relational /
#: window / dedup / similarity representatives. Frozen since round 10
#: so totals compare like sets. Lives here (not in bench.py) so
#: ``tools/freshness_check.py``'s mandatory-ABBA gate and
#: ``perfbench/`` can know which queries feed the headline without
#: importing the engine.
HEADLINE = [
    "wc_word_count",
    "grep_docs",
    "vertex_degree_lineitem",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_revenue_by_nation",
    "join_brand_revenue",
    "join_outer_order_counts",
    "window_rank_orders",
    "topk_orders",
    "events_tumbling_1h",
    "events_session_10m",
    "events_asof_purchase_click",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality",
    "sim_topk_bruteforce",
    "sim_topk_lsh",
]

#: Non-anchor trend section (round-12 verdict #4): the sweep's most
#: expensive entries have no per-round sf0.1 wall-time trend — a
#: regression there is only visible through the sweep's 16x tail,
#: which moves ~1.4x cross-round on box state alone. Measured with
#: the SAME min-of-N protocol, stamped under ``extended_queries``,
#: and EXCLUDED from the anchor total.
EXTENDED = [
    "graph_triangle_summary",
    "graph_pagerank",
    "dedup_fuzzy_names",
    "dedup_containment_pairs",
]

#: 1-minute loadavg above which a measurement run is stamped
#: ``box_load_ok: false`` — on this 32-core box an idle baseline reads
#: well under 1; 2.0 (~6% busy) catches any concurrent
#: Spark/pytest/sweep session without false-tripping on the OS's own
#: background flutter.
BOX_LOAD_THRESHOLD_1M = 2.0

#: Settle criterion (r14 verdict #2): the 1m gate alone passed a run
#: at load 1.58 that still read 1.25x its idle twin — the 1m average
#: decays minutes before the box actually finishes draining a heavy
#: job. The gate now additionally requires EITHER the 5m loadavg
#: under this threshold (box demonstrably idle on the 5-minute
#: scale too) OR ``IDLE_SETTLE_MIN_SEC`` elapsed since the wait
#: trajectory's last above-threshold 1m sample (bounded settle when
#: the 5m average would take too long to decay). ``bench.py`` stamps
#: which criterion gated (``gate_criterion``), so an unsettled run is
#: visible in its own record.
BOX_LOAD_THRESHOLD_5M = 2.0
IDLE_SETTLE_MIN_SEC = 120.0


def read_cpu_steal():
    """``(steal, busy, total)`` jiffies from the aggregate cpu line of
    ``/proc/stat``, or None where unavailable. Engine-free on purpose:
    both ``bench.py`` and ``tools/ab_compare.py`` stamp steal windows,
    and the A/B tool must not import the registry chain (ADVICE r13).
    busy = user+nice+system+irq+softirq (idle/iowait excluded, steal
    itself excluded). See ``steal_record`` for why both a capacity and
    a demand view are derived."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        busy = vals[0] + vals[1] + vals[2] + vals[5] + vals[6]
        return vals[7], busy, sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def steal_record(before, after):
    """Two views of the same hypervisor denial over a window, both
    stamped as recorded context: % of total CAPACITY (window x all
    cpus — diluted by idle phases) and % of DEMAND
    (denied/(granted+denied)) — a run that only bursts wide for part
    of its window can lose 10% of its demanded cycles while
    capacity-steal reads under 2% (observed in r15)."""
    if before is None or after is None:
        return None
    ds = after[0] - before[0]
    db = after[1] - before[1]
    dt = after[2] - before[2]
    return {
        "steal_jiffies": ds,
        "busy_jiffies": db,
        "total_jiffies": dt,
        "steal_pct_of_capacity": round(100.0 * ds / dt, 2) if dt > 0 else None,
        "steal_pct_of_demand": (
            round(100.0 * ds / (ds + db), 2) if ds + db > 0 else None
        ),
    }
