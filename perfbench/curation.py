"""``curation_x10``: seven curation registry entries on a 10×
shifted-key replica of the base corpus, each executed through the
``noop`` sink. Kernel-heavy: operator kernels (near-dup, similarity,
sketch, LM scoring), shuffle, eager pins and the JVM↔Arrow boundary;
about half of a pass grows with the data at this size, the rest is
per-job overhead and JIT compilation. The seed sets the query order of every
pass; the corpus itself is fixed so outputs can be checked against
stored fingerprints."""

from __future__ import annotations

import json
import os
import random

import corpus
from checks import fingerprint
from workloads import CURATION_QUERIES, Workload

REPLICA = 10
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def expected_key(smoke: bool) -> str:
    return "curation_x10@smoke" if smoke else "curation_x10"


def corpus_dir(cache_dir: str, smoke: bool) -> tuple[str, dict]:
    sf = corpus.SMOKE_SF if smoke else corpus.BASE_SF
    return corpus.ensure_replica(cache_dir, 1 if smoke else REPLICA, sf)


class Curation(Workload):
    name = "curation_x10"

    def prepare(self) -> bool:
        self.dir, marker = corpus_dir(self.run.cache_dir, self.run.smoke)
        self.run.record["corpus"] = marker
        return bool(marker.get("built"))

    def setup(self) -> None:
        from bigbookapi_etl_with_airflow_and_snowflake_spark import queries

        self.registry = queries.queries()
        with open(EXPECTED) as fh:
            self.expected = json.load(fh).get(expected_key(self.run.smoke), {})
        self.run.record["corpus"]["expected_generation"] = self.expected.get("_generation")

    def order(self, pass_index: int) -> list[str]:
        rng = random.Random(f"{self.run.seed}:{pass_index}")
        return rng.sample(CURATION_QUERIES, len(CURATION_QUERIES))

    def warmup(self) -> None:
        """Untimed first pass: every query's output fingerprint against
        the stored one."""
        self.run.check("corpus generation of the expected fingerprints",
                       self.expected.get("_generation"), self.run.record["corpus"]["generation"])
        for name in self.order(-1):
            got = self.run.op(name, lambda: fingerprint(self.registry[name](self.run.spark, self.dir)))
            if got is not None:
                self.run.check(f"fingerprint {name}", got, self.expected.get(name))

    def _query(self, name: str) -> None:
        tracer = self.run.tracer
        with tracer.span("queries.build"):
            df = self.registry[name](self.run.spark, self.dir)
        with tracer.span("queries.exec"):
            df.write.format("noop").mode("overwrite").save()

    def run_pass(self, pass_index: int) -> None:
        for name in self.order(pass_index):
            self.run.op(name, self._query, name)

    def layer_values(self, pass_index: int) -> dict[str, float]:
        out = super().layer_values(pass_index)
        for p, name, wall_s, _ in self.run.ops:  # inclusive of build and exec
            if p == pass_index:
                out[f"q.{name}_s"] = wall_s
        return out
