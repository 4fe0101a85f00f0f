"""Map a run record onto the metric names BENCHMARK.json lists.

The result line carries one set of names for every workload, so the
end-to-end metrics are the ones every workload has:

- ``setup_s``: median of the set-ups in the run (session start,
  warm-up, input staging);
- ``work_s``: wall time of the workload's fixed measured work (stock:
  stream drain plus dashboard queries; curation: the timed pass;
  txlog: the op loop).

Latency percentiles (``dash_query_p50_ms``, ``stream_batch_p50_ms``,
``curation_key_p50_ms``, ``txlog_write_p50_ms``, ...) and
``peak_rss_mb`` stay in the printed report and the result record: on a
shared 4-core box their quartile spread across seeds reached 0.17-0.35
of the median (a median over a handful of mixed-kind operations flips
between kinds; RSS follows how many Python workers are alive), too
close to or beyond the largest regression bound the result line may
carry.
"""

from __future__ import annotations


def end_to_end(rec: dict) -> dict:
    m = rec["metrics"]
    return {"setup_s": m["setup_s"]["value"], "work_s": m["work_s"]["value"]}
