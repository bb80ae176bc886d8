"""join_export_dedup: the shuffle and write path.

One pass runs the ``join_export`` queries (raster_join -> write_tiles,
st_join) and then the ``doc_dedup`` queries (minhash, exact-substring and
semantic dedup), one at a time, over inputs both parts build from the
same seeded generator.  Neither part decodes a raster.  The two parts
share one process, so the Spark session, JVM and Python workers start
once for both.
"""

from __future__ import annotations

import doc_dedup
import join_export


class Workload:
    name = "join_export_dedup"

    def __init__(self, spark, rng, size: str, work: str):
        self.parts = [join_export.Workload(spark, rng, size, work),
                      doc_dedup.Workload(spark, rng, size, work)]
        self.latency_kinds = tuple(k for p in self.parts for k in p.latency_kinds)
        self.input_kinds = tuple(k for p in self.parts for k in p.input_kinds)
        self.input_mb = sum(p.input_mb for p in self.parts)
        self.rates = {k: v for p in self.parts for k, v in p.rates.items()}

    def build_reference(self) -> None:
        for p in self.parts:
            p.build_reference()

    def plan(self) -> list:
        return [q for p in self.parts for q in p.plan()]

    def microbench(self) -> dict:
        return {k: v for p in self.parts for k, v in p.microbench().items()}
