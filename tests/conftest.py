from contextlib import contextmanager, nullcontext

import pytest

from image_dedup_spark.operators import components as CC
from image_dedup_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="image_dedup_spark_tests", cores=4)
    yield s


@pytest.fixture(scope="session")
def corpus(spark):
    from image_dedup_spark.corpus import generate_corpus

    pages, truth = generate_corpus(spark, 1200, seed=42)
    pages = pages.cache()
    truth = truth.cache()
    pages.count()
    return pages, truth


@pytest.fixture(scope="session")
def fingerprints(spark, corpus):
    import pyspark.sql.functions as F

    from image_dedup_spark.functions.fingerprints import make_fingerprint_udf
    from image_dedup_spark.operators import quality as Q

    pages, _ = corpus
    udf = make_fingerprint_udf()
    fp = (
        Q.keep(pages)
        .select("doc_id", "url", "text", udf(F.col("text")).alias("fp"))
        .select("doc_id", "url", "text", "fp.*")
        .cache()
    )
    fp.count()
    return fp


@contextmanager
def _loop_path():
    """Shut the connected-components driver path: every graph takes the
    Spark label loop, whatever its size."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(CC, "_label_on_driver", lambda edges, metrics_out: None)
        yield


@pytest.fixture(scope="session")
def cc_paths():
    """The two connected-components paths, each a context to run a
    block under: ``"driver"`` as configured (a graph under the broadcast
    threshold is labelled on the driver) and ``"loop"`` (the Spark loop
    forced)."""
    return {"driver": nullcontext, "loop": _loop_path}
