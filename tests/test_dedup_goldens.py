"""Golden pins for the approximate-dedup faces that have no DuckDB
oracle (xxhash64 signatures, Gaussian hyperplanes): each case's sorted
result on the sf0.001 test tables is hashed and compared with a digest
recorded from the reference implementation. Pair ids must match
exactly; cosines are compared after rounding to 1e-9. A changed digest
means the face's output changed, not merely its plan."""

import hashlib

import pytest
from __spark_entry__ import SF0001 as SF
from pyspark.sql import functions as F

from ethereum_analytical_db_spark.operators import dedup, similarity


def _docs(spark):
    # 500 docs, ids 0..499: the probe cases index ids < 250 and probe
    # the rest
    return spark.read.parquet(f"{SF}/documents.parquet")


def _minhash(spark, tmp_path, **kw):
    return [
        (r["doc_a"], r["doc_b"], r["bands_in_common"])
        for r in dedup.minhash_lsh_candidates(_docs(spark), **kw).collect()
    ]


def _simhash(spark, tmp_path, **kw):
    return [
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_near_duplicates(_docs(spark), **kw).collect()
    ]


def _minhash_probe(spark, tmp_path, **kw):
    docs = _docs(spark)
    path = str(tmp_path / "band_index")
    dedup.minhash_index_write(docs.filter(F.col("doc_id") < 250), path)
    new = docs.filter(F.col("doc_id") >= 250)
    return [
        (r["doc_a"], r["doc_b"], r["bands_in_common"])
        for r in dedup.minhash_probe_candidates(spark, path, new, **kw).collect()
    ]


def _simhash_probe(spark, tmp_path, **kw):
    docs = _docs(spark)
    path = str(tmp_path / "chunk_index")
    dedup.simhash_index_write(docs.filter(F.col("doc_id") < 250), path)
    new = docs.filter(F.col("doc_id") >= 250)
    return [
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_probe_candidates(spark, path, new, **kw).collect()
    ]


def _lsh(spark, tmp_path, **kw):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = similarity.embedding_near_dup_lsh(
        emb, dim=64, threshold=0.38, planes=4, tables=2, **kw
    )
    return [(r["id_a"], r["id_b"], round(r["cosine"], 9)) for r in out.collect()]


# (case, build, kwargs, row count, sha256 of repr(sorted rows))
CASES = [
    ("minhash", _minhash, {}, 28,
     "bd7e164701d9989429d7e1ae8b90e4f3f0d89a6d5ebfe0304ed2a850c253f69b"),
    ("minhash_capped", _minhash, {"max_bucket_df": 3}, 25,
     "20bc8ccf7740bd8c8c74649244cb0708adfbc97933300940562873e112001dbe"),
    ("simhash", _simhash, {}, 27,
     "8cc0f18708bb8979935bd029958be2e55cd2f08ca5b4af7051647a75d7e7d3d6"),
    ("simhash_capped", _simhash, {"max_chunk_df": 3}, 18,
     "33b134327ff36befd0ee083f9082fe26fdd05cd7a1d87ff0e3cc8b75d1968ffa"),
    ("minhash_probe", _minhash_probe, {}, 17,
     "03da822fcab4921e552b5368c21d1c073bcfac3c6e697fad21a4326135c44b49"),
    ("minhash_probe_capped", _minhash_probe, {"max_bucket_df": 2}, 14,
     "9c882fee026f869b169b0cad902c71caf83ceb4221b2db7467727cd7e8773663"),
    ("simhash_probe", _simhash_probe, {}, 18,
     "7df167bc2ffaaf7433a978750b4d71b00fbb711a7a63e7e0495a60eaaec9b5d5"),
    ("simhash_probe_capped", _simhash_probe, {"max_chunk_df": 3}, 13,
     "79f38e125d204122e2f68a5455a00ce168a4b85c6bca3eddb652a841dfe024cd"),
    ("lsh_sub_blocks_1", _lsh, {"sub_blocks": 1}, 39,
     "244b051ef2676d07f9d9eb0c687e4cff3ae87886d4e7305cb0f2391c9e636d57"),
    ("lsh_sub_blocks_3", _lsh, {"sub_blocks": 3}, 39,
     "244b051ef2676d07f9d9eb0c687e4cff3ae87886d4e7305cb0f2391c9e636d57"),
]


@pytest.mark.parametrize(
    "build,kw,count,digest",
    [c[1:] for c in CASES],
    ids=[c[0] for c in CASES],
)
def test_face_matches_golden_digest(spark, tmp_path, build, kw, count, digest):
    rows = sorted(build(spark, tmp_path, **kw))
    assert len(rows) == count
    assert rows, "an empty result would pin nothing"
    assert hashlib.sha256(repr(rows).encode()).hexdigest() == digest
