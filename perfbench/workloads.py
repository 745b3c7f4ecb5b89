"""Workload definitions: the registry queries each workload runs.

Every name is a key of ``nosql_join_stream_spark.queries.REGISTRY``; the
benchmark calls each one only through ``REGISTRY[name].fn(spark, sf_dir)``.
Why each workload holds these queries is recorded in README.md.
"""

from __future__ import annotations

import os

#: the fixed seed-42 synthetic tables at scale factor 0.001, shipped with
#: the benchmark so a run reads nothing outside its checkout
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "data", "sf0.001")

WORKLOADS: dict[str, tuple[str, ...]] = {
    # the paper's own surface: joins, DSL/MQL predicates, typed
    # projection, combinators and log scans, plus one TPC-H join
    "reference": (
        "join_fk_inner", "join_salted_skew", "join_outer_filtered",
        "pred_surface", "pred_all_array", "mql_filter",
        "sql_exists_decorrelated", "typed_as_projection",
        "variant_schemaless_decode", "concat_logs", "log_scan_offset",
        "tpch_q3_shipping_priority",
    ),
    # write side: a windowed aggregation drain with a state store and a
    # watermark, a two-drain standing staging, a keyed-table upsert, and
    # a sessionizer whose per-key state lives in Python workers
    "ingest": (
        "stream_windowed_counts", "stream_late_quarantine",
        "cdc_upsert_latest", "stream_sessionize_stateful",
    ),
}

#: timed passes per run of each workload.  The count is fixed, not set by
#: the clock: with a clock-set count a slow run also averaged in fewer,
#: less warmed-up passes.  ``reference``'s passes keep speeding up for
#: four or five passes (4.4, 3.7, 3.3, 2.9, 2.8 s); with two passes its
#: medians rested on that slope and spread 0.16-0.22 over ten runs, so it
#: makes eight, whose median rests on the plateau.  On an earlier 3-query
#: ``ingest`` a third pass did not make the spread over ten runs smaller,
#: and an ``ingest`` pass costs about 6.5 s
TIMED_PASSES = {"reference": 8, "ingest": 2}

#: queries whose first run in a process builds a standing artifact that
#: later runs reuse (the members of ``bench.STANDING_BUILD`` that the
#: workloads above hold); cold minus steady wall is that one-time build
STANDING = frozenset({"stream_late_quarantine"})
