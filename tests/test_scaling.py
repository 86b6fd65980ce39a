"""The scaling probe's claim (scripts/scaling.py): every operator entry's
fingerprint is exact, so it must not move with the parallelism. Each
entry writes a tiny corpus and runs twice under different shuffle
partition counts; the fingerprints must be identical."""

from __future__ import annotations

import importlib.util
import os

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "scaling.py")
_spec = importlib.util.spec_from_file_location("scaling_probe", _PATH)
scaling = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scaling)

# xcorpus keeps one eval doc per 1000 train docs; the pipeline pays a
# fixed cost per stage, so it gets the smallest corpus
TINY_N = {"xcorpus": 4000, "pipeline": 200, "pipeline_suffix": 200}


@pytest.mark.parametrize("name", sorted(scaling.OPERATORS))
def test_fingerprint_independent_of_partitioning(spark, tmp_path, name):
    op = scaling.OPERATORS[name]
    op.prep(spark, TINY_N.get(name, 2000), str(tmp_path))
    before = spark.conf.get("spark.sql.shuffle.partitions")
    fps = []
    try:
        for parts in ("3", "11"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            walls, fp = op.run(spark, str(tmp_path))
            assert walls and all(w >= 0 for w in walls.values())
            fps.append(fp)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert fps[0] == fps[1]
