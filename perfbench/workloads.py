"""The benchmark's fixed workloads: key lists and cache policy.

Each workload is one closed-loop client running registry keys one after
another, in the listed order, in a single session. In a ``shared``
workload the keys read one input path, so the engine's per-(session,
input path) memos and cached frames carry over from key to key. Otherwise
each key reads its own alias of the inputs and ``clearCache()`` runs
after it, so no key reuses another's cached work.

The order is fixed on purpose: it decides which key pays the session's
first code-generation and JIT costs for plan shapes that several keys
share (t_dup_clusters took 2.2 s after t_dup_keep_best and 5.6 s before
it), so a seeded order would make ``run_s`` measure the order. ``--seed``
changes the generated inputs instead.

The key lists are the registry's representatives of each workload's
mechanism, cut so that one run, set-up and checks included, takes about
30-45 s on an unloaded 4-core box.

Each workload has its own input scale. ``cf_pipeline`` runs at 0.01,
where its pair joins shuffle about 28 MB and use about 14 s of task CPU
(2.2 MB and 3.1 s at 0.001). ``iter_loops`` and ``oneshot_mix`` run at
0.001: iter_loops' time is jobs x per-job latency rather than data, and
at 0.01 r_shortest_path's DuckDB check alone takes 5 s; at 0.001
oneshot_mix's a_theil_sen already has over half of the workload's task
CPU, while at 0.01 it takes 17 s on its own (its pair join is over the
distinct order days, about 1,100 at 0.001 and all 2,400 at 0.01) and the
run would take over a minute.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    keys: tuple[str, ...]
    shared: bool
    sf: float


WORKLOADS = {
    # The paper's CF chain in dependency order with no clearCache(), so the
    # ratings-matrix and similarity memos are reused across keys the way the
    # MapReduce reference reuses its HDFS intermediates.
    "cf_pipeline": Workload(
        keys=(
            "r_ratings_matrix", "r_cosine_sim", "r_predict",
            "r_user_cosine_capped", "r_slope_one_capped",
        ),
        shared=True,
        sf=0.01,
    ),
    # Driver-side loops and eager build-time jobs: time is jobs x per-job
    # latency.
    "iter_loops": Workload(
        keys=(
            "t_dup_clusters", "r_shortest_path", "q_sql_scripting",
        ),
        shared=False,
        sf=0.001,
    ),
    # Single-pass keys with no loops and no shared work: the control, the
    # parquet/checkpoint writers, the Arrow Python workers and a_theil_sen.
    "oneshot_mix": Workload(
        keys=(
            "a_groupby", "q_pricing_summary", "j_multiway", "w_sessionize",
            "a_theil_sen", "u_apply_in_pandas", "s_partitioned_write",
            "st_cdc_apply",
        ),
        shared=False,
        sf=0.001,
    ),
}
