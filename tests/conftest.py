import contextlib
import os

import pytest

from cloud_native_medical_data_etl_pipeline_spark.session import get_spark

# Test data: the sf0.001 set (the oracle replica's default scale) and its
# sibling scale-factor directories, all resolved from this one root.
ORACLE_SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
SF_0_01_DIR = os.path.join(os.path.dirname(ORACLE_SF_DIR), "sf0.01")


@pytest.fixture(scope="session")
def spark():
    yield get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)


# ---------------------------------------------------------------------------
# References the single product paths are checked against.


@contextlib.contextmanager
def distributed_loops():
    """Run `quantize.pq_train` and `similarity.kcenter_select` on their
    distributed loops.  Both take the driver-side numpy path while the
    pool fits a `_kmeans_np` cap, so caps of 0 force the other side."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import _kmeans_np

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(_kmeans_np, "DRIVER_TRAIN_CAP", 0)
        mp.setattr(_kmeans_np, "DRIVER_SELECT_CAP", 0)
        yield


def minhash_reference_base(df, ngram_n=3, num_hashes=8):
    """`dedup.minhash_base(df, ...)` rebuilt from public Column
    expressions (lowercased tokens -> distinct word n-grams -> md5-lane
    signature), sharing no code with its Arrow pass.  ``num_hashes=0``
    gives just ``(k, sh)``."""
    from pyspark.sql import functions as F

    from cloud_native_medical_data_etl_pipeline_spark.functions import text as X
    from cloud_native_medical_data_etl_pipeline_spark.operators import dedup

    sh = X.word_ngrams_from_tokens(X.lower_tokens("text"), ngram_n)
    return (
        df.select(F.col("doc_id").alias("k"), sh.alias("sh"))
        .where(F.size("sh") > 0)
        .select("k", "sh", *dedup.minhash_signature(F.col("sh"), num_hashes))
    )


def ngram_jaccard_bruteforce(grams, threshold, min_df_prune=50):
    """`dedup.ngram_jaccard_pairs` over ``grams`` ({key: n-gram list})
    in plain Python: every key pair sharing an n-gram found in at most
    ``min_df_prune`` documents, scored by exact Jaccard rounded the way
    Spark's F.round does -> sorted (key_a, key_b, jaccard)."""
    from collections import Counter

    from cloud_native_medical_data_etl_pipeline_spark.operators._kmeans_np import (
        round_spark_scalar,
    )

    sets = {k: set(g) for k, g in grams.items()}
    df_count = Counter(g for s in sets.values() for g in s)
    keys = sorted(sets)
    out = []
    for i, a in enumerate(keys):
        for b in keys[i + 1 :]:
            sa, sb = sets[a], sets[b]
            if not any(df_count[g] <= min_df_prune for g in sa & sb):
                continue
            j = round_spark_scalar(len(sa & sb) / len(sa | sb), 6)
            if j >= threshold:
                out.append((a, b, j))
    return out
