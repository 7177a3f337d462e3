"""Names and units of every metric the harness reports.

``END_TO_END`` is what ``--trace 0`` prints, for every workload.
``PER_LAYER`` is what ``--trace 1`` prints, for every workload; a layer
the workload does not exercise reads 0. BENCHMARK.json lists the same
names.

Which figure each layer metric should move, on which workload, and
where it should stay flat (a change that claims a gain on a layer shows
both). ``block_cpu_s`` and ``setup_s`` are the end-to-end metrics;
``block_s`` is the wall time of the same round. The other figures in the
second column are the workload's own end-to-end figures, printed with
the layers from the untraced half of a traced run (``stream_events_per_s``
from the traced half: it needs the streaming listener that only tracing
registers).

=============================================  ==========================  ===============  ===============
layer metric                                   moves                       on               flat on
=============================================  ==========================  ===============  ===============
plans.gql.parse_s, plans.lower.build_s/_jobs   block_s/_cpu_s, op_p50_s    gql_interactive  analytics_batch
catalyst.plan_s                                block_s/_cpu_s, op_p50_s    gql_interactive  write_view
exec.*                                         block_s/_cpu_s, op_tail_s   gql_interactive  write_view
tmpl.<template>.p50_s                          op_tail_s                   gql_interactive
store.commit_*, store.*_per_commit,            block_s/_cpu_s, commit_p50  write_view       gql_interactive
store.dir_bytes, store.vacuum_s                /tail_s, fresh_p50_s
store.cdc_s, store.cdc_jobs                    fresh_p50_s                 write_view
mutation.gql_set_s/_jobs                       commit_tail_s               write_view
views.apply_s/_jobs                            fresh_p50_s                 write_view
views.router.*                                 read_p50_s, fresh_p50_s     write_view
job.<name>_s/_jobs/_tasks                      block_s/_cpu_s, batch_s     analytics_batch  gql_interactive
job.<name>_rows/_pairs                         none (witness, must repeat) analytics_batch
streaming.*                                    stream_events_per_s,        analytics_batch  write_view
                                               batch_s
setup.*, setup_wall_s                          setup_s                     all
=============================================  ==========================  ===============  ===============
"""

from __future__ import annotations

TEMPLATES = (
    "point", "incoming", "two_hop", "agg", "optional", "var_length", "call_subquery", "union",
)
#: analytics job -> what its result rows are (the witness)
JOBS = {
    "algo_sssp_colocation": "rows",
    "dedup_ngram_jaccard_skew": "pairs",
    "stream_live_left_outer_join": "rows",
}

#: ``block_cpu_s`` is the CPU one round of the workload's op mix costs,
#: and ``setup_s`` the CPU the set-up costs (session, layout, fixture and
#: warm-up): CPU seconds of the JVM less its JIT compiler threads, plus
#: the harness process. The round figure is built from each op kind's
#: median in the run, weighted by its count in a round, so that neither
#: one slow op nor where the time limit cuts the last round moves it.
#: CPU seconds, not wall seconds: on a shared 4-CPU VM whose other
#: guests took 0-22% of its CPU time (steal) in episodes of minutes, a
#: write_view round took 30.2 s of wall time at 15% steal against 14.3 s
#: at none, while its CPU seconds rose from 19.1 to 25.0. CPU seconds
#: are this steady only with a JVM that compiles with C1 alone and
#: collects with the serial collector (run.py, ``isolate``). The wall
#: figures of both are per-layer metrics.
END_TO_END = {"setup_s": "s", "block_cpu_s": "s"}

PER_LAYER = {
    # set-up, wall seconds: in all and by phase
    "setup_wall_s": "s",
    "setup.session_s": "s",
    "setup.graph_load_s": "s",
    "setup.fixtures_s": "s",
    "setup.warmup_s": "s",
    # the workload's own end-to-end figures, from the untraced half
    # one round: wall seconds, and the JIT compilation CPU seconds beside
    # the round's CPU seconds
    "block_s": "s",
    "block_jit_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "op_tail_pct": "%",
    "op_samples": "count",
    "ops_per_s": "1/s",
    "fail_ratio": "ratio",
    "commit_p50_s": "s",
    "commit_tail_s": "s",
    "fresh_p50_s": "s",
    "fresh_tail_s": "s",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "batch_s": "s",
    "stream_events_per_s": "1/s",
    # traced-minus-untraced
    "trace.overhead.block_s": "s",
    "trace.overhead.block_cpu_s": "s",
    # gql_interactive: per statement medians
    "plans.gql.parse_s": "s",
    "plans.lower.build_s": "s",
    "plans.lower.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.files_read": "count",
    "exec.bytes_read": "bytes",
    "exec.rows_scanned_per_row": "ratio",
    **{f"tmpl.{t}.p50_s": "s" for t in TEMPLATES},
    # write_view: per write medians
    "store.commit_s": "s",
    "store.commit_jobs": "count",
    "store.commit_tasks": "count",
    "store.bytes_written_per_commit": "bytes",
    "store.files_written_per_commit": "count",
    "store.dir_bytes": "bytes",
    "store.vacuum_s": "s",
    "store.cdc_s": "s",
    "store.cdc_jobs": "count",
    "mutation.gql_set_s": "s",
    "mutation.gql_set_jobs": "count",
    "views.apply_s": "s",
    "views.apply_jobs": "count",
    "views.router.read_s": "s",
    "views.router.read_jobs": "count",
    "views.router.hit_ratio": "ratio",
    # analytics_batch: per job medians and witnesses
    **{
        k: u
        for job, w in JOBS.items()
        for k, u in (
            (f"job.{job}_s", "s"),
            (f"job.{job}_jobs", "count"),
            (f"job.{job}_tasks", "count"),
            (f"job.{job}_{w}", "count"),
        )
    },
    "streaming.batches": "count",
    "streaming.planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
}
