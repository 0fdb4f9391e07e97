"""Workload definitions: which registry queries run, on which generated
inputs, and through which sink.

Every roster member passed its DuckDB oracle on the generated inputs of
two seeds before it was listed. Rosters and sizes are cut so that one
run (set-up, a warm pass, the measured window and the oracle checks)
stays under a minute on a 4-core host; see README.md for what the cut
left out and why.
"""

from __future__ import annotations

from dataclasses import dataclass

from gen import sizes_for_sf


@dataclass(frozen=True)
class Workload:
    why: str
    sizes: dict[str, int]
    #: registry query name -> sink function name in ``sources/sinks.py``
    #: (``None``: the result is collected to the driver)
    roster: dict[str, str | None]


WORKLOADS: dict[str, Workload] = {
    "reference_pipelines": Workload(
        why="the reference's own Q1-Q4 over rides/stations, written through "
        "the CLI's sinks; execution and writes dominate",
        sizes={**sizes_for_sf(0.02), "supplier": 200},
        roster={
            "q1_sql_top_pairs": "write_text",
            "q2_top_pairs_ops": "write_csv",
            "q3_station_distances": "write_text",
            "q4_total_distance": "write_csv_single",
            "q4_total_distance_by_name": "write_csv_single",
        },
    ),
    "analytic_catalog": Workload(
        why="catalog queries across relational, statistics, text, vector, "
        "driver-loop, streaming and UDF families; fixed cost and plan build dominate",
        sizes=sizes_for_sf(0.01),
        roster=dict.fromkeys((
            "pricing_summary",
            "anova_f_value_by_type",
            "jaccard_on_lsh_candidates",
            "ann_lsh_topk_vec0",
            "bradley_terry_part_prefs",
            "q3_station_distances_geodesic",
            "stateful_user_session_stats",
        )),
    ),
}
