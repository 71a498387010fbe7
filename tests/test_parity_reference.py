"""Reference-parity gate (north rule): at identical shingle/num-hash/band
configuration and seed, our pipeline must reproduce the reference's collided
pairs with dup-pair recall ≥ 0.99.

The reference (/root/reference/lsh-qd.py) is imported read-only as an
oracle: we seed the global NumPy RNG exactly as `reference_coefficients`
does, build its MinHash/AlphaLSH, hash a binary fixture matrix
(FIXTURES.md F3), and extract its per-table bucket contents. Our Spark
pipeline runs the same data as (doc_id, nonzero-index array) with the
reference coefficient stream — pair sets must agree exactly.
"""

import importlib.util
import itertools
import os
from collections import defaultdict

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lsh_qd_spark.functions.minhash import reference_minhash_udf
from lsh_qd_spark.operators.band import band_buckets
from lsh_qd_spark.operators.pairs import candidate_pairs

K_ROWS = 2  # reference k: bands (rows) per table
L_BANDS = 8  # reference l: number of tables
SEED = 42
N_DOCS = 120
N_DIMS = 200


def _stub_module(name: str, **attrs):
    import sys
    import types

    if name in sys.modules:
        return sys.modules[name]
    mod = types.ModuleType(name)
    for k, v in attrs.items():
        setattr(mod, k, v)
    sys.modules[name] = mod
    return mod


@pytest.fixture(scope="module")
def reference_module():
    # The reference imports scipy/tqdm/matplotlib at module level but the
    # MinHash path uses none of them — stub just enough to import.
    scipy = _stub_module("scipy")
    scipy.integrate = _stub_module("scipy.integrate", quad=lambda *a, **k: (0.0, 0.0))
    scipy.spatial = _stub_module("scipy.spatial")
    scipy.spatial.distance = _stub_module(
        "scipy.spatial.distance",
        jaccard=lambda a, b: float(np.mean(np.asarray(a) != np.asarray(b))),
    )
    _stub_module("tqdm", tqdm=lambda x=None, **k: x)
    class _PropCycle:
        def by_key(self):
            return {"color": ["C0"] * 10}

    mpl = _stub_module("matplotlib")
    mpl.pyplot = _stub_module(
        "matplotlib.pyplot", rcParams={"axes.prop_cycle": _PropCycle()}
    )
    spec = importlib.util.spec_from_file_location(
        "lsh_qd_ref", "/root/reference/lsh-qd.py"
    )
    if not os.path.exists(spec.origin):
        pytest.skip(f"reference sources not present: {spec.origin}")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def fixture_matrix():
    rng = np.random.default_rng(777)
    x = (rng.random((N_DOCS, N_DIMS)) < 0.25).astype(np.int64)
    # plant a few near-identical rows so real collisions exist
    x[5] = x[3].copy()
    x[17] = x[11].copy()
    x[17, :4] ^= 1
    x[40] = x[39].copy()
    x[40, 100:104] ^= 1
    return x


@pytest.fixture(scope="module")
def reference_state(reference_module, fixture_matrix):
    """Hash the fixture through the reference MinHash and extract pairwise
    collision counts straight from its tables (lsh-qd.py:45-47,65)."""
    np.random.seed(SEED)  # reference never seeds; parity contract is global
    mh = reference_module.MinHash(k=K_ROWS, l=L_BANDS, seed=SEED)
    for row in fixture_matrix:
        mh.hash(row)
    counts: dict[tuple[int, int], int] = defaultdict(int)
    for table in mh.tables:
        for members in table.values():
            for i, j in itertools.combinations(sorted(members), 2):
                counts[(i, j)] += 1
    return mh, dict(counts)


@pytest.fixture(scope="module")
def spark_pairs(spark, fixture_matrix):
    rows = [
        (int(i), np.nonzero(fixture_matrix[i])[0].tolist())
        for i in range(N_DOCS)
    ]
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("shingles", T.ArrayType(T.LongType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    udf = reference_minhash_udf(K_ROWS, L_BANDS, seed=SEED)
    sigs = df.select("doc_id", udf("shingles").alias("sig")).where(
        F.col("sig").isNotNull()
    )
    buckets = band_buckets(sigs, K_ROWS, L_BANDS)
    pairs = candidate_pairs(buckets, alpha=1, max_bucket_size=N_DOCS + 1)
    return {
        (r["id_a"], r["id_b"]): r["n_bands"] for r in pairs.collect()
    }


def test_pair_set_parity(reference_state, spark_pairs):
    """Collided-pair sets identical → recall 1.0 ≥ 0.99."""
    _, ref_counts = reference_state
    ref_pairs = set(ref_counts)
    got_pairs = set(spark_pairs)
    missing = ref_pairs - got_pairs
    recall = 1 - len(missing) / max(1, len(ref_pairs))
    assert len(ref_pairs) > 0
    assert recall >= 0.99, f"missing {sorted(missing)[:10]}"
    # and no spurious pairs either (bucket-id equality is exact on our side)
    assert got_pairs == ref_pairs


def test_collision_count_parity(reference_state, spark_pairs):
    """n_bands must equal the reference's per-pair collision frequency
    (the AlphaLSH statistic, lsh-qd.py:118-131) for every pair."""
    _, ref_counts = reference_state
    for pair, n in ref_counts.items():
        assert spark_pairs.get(pair) == n


def test_alpha_filter_parity(reference_state, spark_pairs):
    """AlphaLSH(alpha=2) survivors agree (HAVING n_bands >= 2)."""
    _, ref_counts = reference_state
    ref_alpha2 = {p for p, n in ref_counts.items() if n >= 2}
    got_alpha2 = {p for p, n in spark_pairs.items() if n >= 2}
    assert got_alpha2 == ref_alpha2


def test_planted_neighbors_found(reference_state, spark_pairs):
    """The planted near-identical rows must collide in both systems."""
    _, ref_counts = reference_state
    for pair in [(3, 5), (11, 17), (39, 40)]:
        assert pair in ref_counts
        assert pair in spark_pairs
