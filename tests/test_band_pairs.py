"""The banded candidate join shared by every near-duplicate path."""

import pytest


def test_band_pairs_new_vs_all_is_all_pairs_with_a_new_side(spark):
    from parquet4seastar_spark.operators.dedup import _band_pairs

    # (id, band, bucket): 1-2 share band 0, 2-3 share bands 0 and 1, 4 is alone
    rows = [(1, 0, 7), (2, 0, 7), (3, 0, 7), (2, 1, 5), (3, 1, 5), (4, 0, 9), (4, 1, 1)]
    banded = spark.createDataFrame(rows, "id long, band int, bucket long")
    every = sorted(tuple(r) for r in _band_pairs(banded, "id", "x", "y").collect())
    assert every == [(1, 2), (1, 3), (2, 3)]  # a < b, one row per pair
    new = banded.filter("id >= 3")
    with_new = sorted(tuple(r) for r in _band_pairs(banded, "id", "x", "y", new=new).collect())
    assert with_new == [(1, 3), (2, 3)]
    # without the dedup, 2-3 comes once per shared band
    raw = sorted(tuple(r) for r in _band_pairs(banded, "id", "x", "y", distinct=False).collect())
    assert raw == [(1, 2), (1, 3), (2, 3), (2, 3)]


@pytest.mark.parametrize("incremental", [False, True])
def test_minhash_refuses_more_bands_than_hashes(spark, incremental):
    # r = num_hashes // bands would be 0: every band slice empty, every doc
    # in one bucket, a quadratic candidate join
    from parquet4seastar_spark.operators import dedup

    docs = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands=16 exceeds num_hashes=8"):
        if incremental:
            dedup.minhash_lsh_pairs_incremental(docs, dedup.minhash_signatures(docs, 8), num_hashes=8, bands=16)
        else:
            dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=16)
