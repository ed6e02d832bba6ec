"""The reliable materialization tier, chosen by configuration: every case
in ``reliable_tier.py`` gives the same rows on a child session built
with ``spark.checkpoint.dir`` as on the shared (executor-local tier)
session, including under a first-attempt task fault."""

from __future__ import annotations

import os

from reliable_tier import cases, checkpoint_files


def test_reliable_tier_by_configuration_matches_local_tier(
    spark, sf_dir, reliable_tier_run
):
    reliable = reliable_tier_run["rows"]

    assert spark.sparkContext.getCheckpointDir() is None  # shared session: local tier
    local = cases(spark, sf_dir)
    assert local["jaccard_pairs"] and local["simhash_pairs"]
    assert local["q_jaccard_pairs"]
    for name, rows in local.items():
        assert reliable[name] == rows, name
    assert reliable["q_jaccard_pairs_retried"] == local["q_jaccard_pairs"]
    # the fault fired (so the retried path really ran) ...
    assert os.listdir(reliable_tier_run["fault_dir"])
    # ... and the pins wrote reliable checkpoint files under the dir
    assert checkpoint_files(reliable_tier_run["ckpt"])
