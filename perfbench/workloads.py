"""The benchmark's workload table: which keys run and on which input.

Every pass runs a workload's keys one after another (a closed loop with one
client). Key lists are cut so that a pass takes 3-7 seconds on a 4-core
box, which keeps a whole run (fresh JVM, a cold warm-up pass, two or more
timed passes) under a minute. README.md gives the reason for each workload
and lists the keys left out with their measured cost.
"""

from __future__ import annotations

from dataclasses import dataclass

#: where the engine's operators stage their copies, one directory per process
ENGINE_STAGE_ROOT = "/tmp/die_spark_stage"


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    #: "sf0.1" reads the testdata sf0.1 directory; "sf1" reads the 10x
    #: replica built from it by tools/make_scaled_sf.py.
    scale: str
    #: True: every pass reads its input through a fresh directory alias, so
    #: the engine's per-process staging sets and append checkpoints start
    #: cold and each pass pays its writes again.
    fresh_alias: bool


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="sf0.1-iterative",
            keys=(
                "agg_pricing_summary",
                "agg_count_distinct",
                "stream_tumbling",
            ),
            scale="sf0.1",
            fresh_alias=True,
        ),
        Workload(
            name="sf1-volume",
            keys=(
                "agg_pricing_summary",
                "agg_count_distinct",
                "join_multiway_star",
            ),
            scale="sf1",
            fresh_alias=False,
        ),
    )
}
