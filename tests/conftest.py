import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from pdftotext_spark.plans.pipeline import session_confs

    import tempfile

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("pdftotext-spark-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config(
            "spark.sql.warehouse.dir",
            tempfile.mkdtemp(prefix="spark_wh_"),
        )
    )
    for k, v in session_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def transcripts_dir(tmp_path_factory):
    """Small deterministic transcripts fixture shared by spark tests."""
    from pdftotext_spark.sources.transcripts_gen import write_parquet

    out = tmp_path_factory.mktemp("transcripts")
    write_parquet(str(out), n_turns=200, seed=42, skew_conv_turns=60)
    return str(out)


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
