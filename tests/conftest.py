import importlib.util
import os
import sys

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
# sf-dependent oracles (pinned goldens, the trained-IVF centroid
# literals) resolve their data dir from this env var at queries.py
# IMPORT time — pin it here, before any test module import can pull
# bern2_spark.queries in (collection order is alphabetical, so a module
# importing queries before test_entry.py would otherwise freeze the
# oracles at the wrong SF)
os.environ.setdefault("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REFERENCE_DIR = "/root/reference"


@pytest.fixture(scope="session")
def spark():
    from bern2_spark.session import get_spark
    spark = get_spark("bern2_spark-tests", master="local[4]",
                      extra_conf={"spark.sql.shuffle.partitions": "4"})
    yield spark


@pytest.fixture(scope="session")
def synthetic_result(spark):
    """One 60-doc synthetic ``run_pipeline`` shared by the session: its
    docs, annotations, triples and quarantine as local checkpoints, so
    they survive the ``clearCache()`` calls of tests/test_entry.py and
    no later action re-runs the pipeline."""
    from types import SimpleNamespace

    from bern2_spark import corpus
    from bern2_spark.pipeline import run_pipeline
    lex = corpus.make_lexicon(42)
    with run_pipeline(corpus.documents_df(spark, 60, 42, lex), lex,
                      spark) as res:
        return SimpleNamespace(**{
            name: getattr(res, name).localCheckpoint()
            for name in ("docs", "annotations", "triples", "quarantine")})


@pytest.fixture(scope="session")
def ref_ops():
    """The reference's multi_ner/ops.py imported as a pure-Python parity
    oracle (numpy-only module; we import it at test time, never copy it)."""
    path = os.path.join(REFERENCE_DIR, "multi_ner", "ops.py")
    if not os.path.exists(path):
        pytest.skip("reference repo not available")
    spec = importlib.util.spec_from_file_location("ref_ops", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
