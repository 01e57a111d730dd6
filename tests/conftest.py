import pytest

from minhash_rs_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # a bounded heap: with the session factory's 48g default the JVM
    # grows past the memory of a 16 GB host during the suite (measured
    # 14.8 GB resident by the end of test_operators) and is OOM-killed
    s = get_spark("minhash-rs-spark-tests", master="local[4]",
                  shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "4g"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_corpus(spark):
    """Seeded transcripts + planted ground truth (FIXTURES.md F1/F2)."""
    from minhash_rs_spark.data.transcripts import transcripts_spark

    turns, pairs = transcripts_spark(spark, n_base=120, seed=7)
    turns = turns.cache()
    turns.count()
    return turns, pairs
