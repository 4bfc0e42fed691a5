"""Property-based checks (hypothesis) for the custom operators whose
semantics are easy to get subtly wrong: the as-of join (tie handling,
tolerance, missing matches) and the shingle/minhash expressions (must
agree with a plain-Python reference implementation on arbitrary input).

Each example builds a small DataFrame — examples are capped so the suite
stays fast; the operators themselves are the same code paths exercised at
scale.
"""

import datetime
import re

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from spark_sql_hbase_spark.operators.asof import asof_join

EPOCH = datetime.datetime(2024, 1, 1)

events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # key
        st.integers(min_value=0, max_value=1000),  # ts offset (seconds)
        st.integers(min_value=0, max_value=99),  # payload
    ),
    min_size=0,
    max_size=12,
)


@st.composite
def asof_case(draw):
    return draw(events), draw(events)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(asof_case())
def test_asof_join_matches_naive(spark, case):
    left_rows, right_rows = case
    if not left_rows:
        return
    to_ts = lambda s: EPOCH + datetime.timedelta(seconds=s)  # noqa: E731
    left = spark.createDataFrame(
        [(k, to_ts(ts), i) for i, (k, ts, _) in enumerate(left_rows)],
        "key long, ts timestamp, left_id long",
    )
    right = spark.createDataFrame(
        [(k, to_ts(ts), v) for (k, ts, v) in right_rows],
        "key long, ts timestamp, val long",
    ) if right_rows else spark.createDataFrame([], "key long, ts timestamp, val long")

    got = {
        r["left_id"]: r["matched"]
        for r in asof_join(
            left, right, on="key", left_ts="ts", right_ts="ts",
            right_cols={"val": "matched"},
        ).collect()
    }

    # naive reference: latest right at-or-before, ties broken by LARGEST
    # payload (operator orders ties by the output column, last() wins)
    for i, (k, ts, _) in enumerate(left_rows):
        candidates = [
            v for (rk, rts, v) in right_rows if rk == k and rts <= ts
        ]
        best_ts = max((rts for (rk, rts, v) in right_rows if rk == k and rts <= ts),
                      default=None)
        expect = (
            max(v for (rk, rts, v) in right_rows if rk == k and rts == best_ts)
            if best_ts is not None
            else None
        )
        assert got[i] == expect, (i, k, ts, candidates)


token_lists = st.lists(
    st.text(alphabet="ab1 .,", min_size=0, max_size=12), min_size=0, max_size=6
)


def _py_tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _py_shingles(toks: list[str], n: int = 3) -> list[str]:
    if len(toks) < n:
        return []
    seen, out = set(), []
    for i in range(len(toks) - n + 1):
        s = " ".join(toks[i : i + n])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(token_lists, min_size=1, max_size=5))
def test_shingles_match_python_reference(spark, texts):
    from spark_sql_hbase_spark.functions.texthash import shingles, tokens

    docs = [" ".join(t) for t in texts]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "id long, text string")
    got = {
        r["id"]: r["sh"]
        for r in df.select("id", shingles(tokens(F.col("text")), 3).alias("sh")).collect()
    }
    for i, d in enumerate(docs):
        assert got[i] == _py_shingles(_py_tokens(d)), d


def test_minhash_signature_is_elementwise_min(spark):
    """sig[j] must equal min over shingles of (a_j * h + b_j) % p — the
    per-shingle hashes come from Spark's own xxhash64 (collected once),
    the fold result is checked against a plain-Python min."""
    from spark_sql_hbase_spark.operators.dedup import (
        MOD_P, minhash_params, minhash_signatures,
    )

    docs = [(0, "the quick brown fox jumps over the lazy dog"),
            (1, "pack my box with five dozen liquor jugs")]
    sets = spark.createDataFrame(docs, "id long, text string").select(
        "id",
        F.split("text", " ").alias("toks"),
    )
    from spark_sql_hbase_spark.functions.texthash import shingles

    sets = sets.select("id", shingles(F.col("toks"), 3).alias("sh"))
    got = {r["id"]: r["sig"] for r in minhash_signatures(sets, 16).collect()}

    hashes = {
        r["id"]: r["hs"]
        for r in sets.select(
            "id",
            F.transform("sh", lambda s: F.pmod(F.xxhash64(s), F.lit(MOD_P))).alias("hs"),
        ).collect()
    }
    params = minhash_params(16)
    for doc_id, text in docs:
        sh = _py_shingles(text.split(" "))
        hs = hashes[doc_id]
        assert len(hs) == len(sh) and len(hs) > 0
        expect = [min((a * h + b) % MOD_P for h in hs) for (a, b) in params]
        assert got[doc_id] == expect


def test_asof_join_tolerance(spark):
    """Matches older than the tolerance window are nulled out."""
    import datetime

    to_ts = lambda s: EPOCH + datetime.timedelta(seconds=s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, to_ts(100), 0), (1, to_ts(500), 1)], "key long, ts timestamp, left_id long"
    )
    right = spark.createDataFrame(
        [(1, to_ts(90), 7)], "key long, ts timestamp, val long"
    )
    got = {
        r["left_id"]: r["matched"]
        for r in asof_join(
            left, right, on="key", left_ts="ts", right_ts="ts",
            right_cols={"val": "matched"},
            tolerance=F.expr("INTERVAL 60 SECONDS"),
        ).collect()
    }
    assert got[0] == 7      # 10s old — inside tolerance
    assert got[1] is None   # 410s old — outside tolerance


# ---------------------------------------------------------------------------
# connected components: must agree with a plain-Python union-find on
# arbitrary edge lists (chains, cliques, singleton-free, duplicate edges).
# ---------------------------------------------------------------------------
edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=15),
        st.integers(min_value=0, max_value=15),
    ),
    min_size=1,
    max_size=20,
)


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(edge_lists)
@pytest.mark.slow
def test_connected_components_matches_union_find(spark, edges):
    from spark_sql_hbase_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["id"]: r["comp"] for r in connected_components(pairs).collect()
    }
    assert got == _uf_components(edges)


# ---------------------------------------------------------------------------
# interval join: bucketed equi-join + residual must equal the naive
# nested-loop semantics on arbitrary point/interval layouts, including
# empty/inverted intervals and bucket-boundary timestamps.
# ---------------------------------------------------------------------------
points_s = st.lists(
    st.tuples(st.integers(min_value=0, max_value=900),  # ts offset (s)
              st.integers(min_value=0, max_value=99)),  # point id payload
    min_size=0, max_size=10,
)
intervals_s = st.lists(
    st.tuples(st.integers(min_value=0, max_value=900),   # start offset
              st.integers(min_value=-60, max_value=900)),  # end = start+delta
    min_size=0, max_size=6,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(points_s, intervals_s)
def test_interval_join_matches_naive(spark, pts, ivs):
    from spark_sql_hbase_spark.operators.rangejoin import interval_join

    if not pts or not ivs:
        return
    to_ts = lambda s: EPOCH + datetime.timedelta(seconds=s)  # noqa: E731
    points = spark.createDataFrame(
        [(to_ts(ts), i) for i, (ts, _) in enumerate(pts)],
        "ts timestamp, point_id long",
    )
    intervals = spark.createDataFrame(
        [(j, to_ts(s), to_ts(s + d)) for j, (s, d) in enumerate(ivs)],
        "interval_id long, s timestamp, e timestamp",
    )
    got = {
        (r["point_id"], r["interval_id"])
        for r in interval_join(points, intervals, "ts", "s", "e",
                               bucket_width_seconds=60).collect()
    }
    want = {
        (i, j)
        for i, (ts, _) in enumerate(pts)
        for j, (s, d) in enumerate(ivs)
        if s <= ts <= s + d
    }
    assert got == want


def test_pack_plan_invariants(spark):
    """Packing law: offsets are the exact prefix sums per stream;
    seq_id/seq_offset reconstruct the offset; sequences cover the stream
    contiguously (concat-then-chunk semantics)."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.packing import pack_plan

    rows = [("a", i, 1 + (i * 7) % 13) for i in range(50)] + [
        ("b", i, 2048) for i in range(3)  # exact-budget docs
    ] + [("c", 0, 5000)]  # one doc bigger than the budget
    df = spark.createDataFrame(rows, "stream string, doc_id long, n long")
    plan = pack_plan(df, "stream", "doc_id", "n", budget=2048).collect()

    by_stream = {}
    for r in plan:
        by_stream.setdefault(r["stream"], []).append(r)
    for stream, rs in by_stream.items():
        rs.sort(key=lambda r: r["doc_id"])
        expect_offset = 0
        for r in rs:
            assert r["offset"] == expect_offset
            assert r["seq_id"] * 2048 + r["seq_offset"] == r["offset"]
            assert 0 <= r["seq_offset"] < 2048
            expect_offset += r["n_tokens"]
    # exact-budget docs start at sequence boundaries
    b = by_stream["b"]
    assert [r["seq_id"] for r in sorted(b, key=lambda r: r["doc_id"])] == [0, 1, 2]
    assert all(r["seq_offset"] == 0 for r in b)
    # the oversized doc still gets a well-defined slot (straddles seqs)
    assert by_stream["c"][0]["seq_id"] == 0 and by_stream["c"][0]["seq_offset"] == 0


@pytest.mark.slow
def test_python_shingles_match_jvm(spark, sf_dir):
    """LSH candidate recall depends on the Python shingle twin producing
    the same shingle SETS as the JVM fold (verification exactness never
    does — it is always JVM-side). Compare on the real documents table."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.dedup import _py_shingles, _shingle_sets
    from spark_sql_hbase_spark.queries import table

    docs = table(spark, sf_dir, "documents")
    jvm = {
        r["id"]: set(r["sh"])
        for r in _shingle_sets(docs, "doc_id", "text", 3).collect()
    }
    for r in docs.select("doc_id", "text").collect():
        assert set(_py_shingles(r["text"], 3)) == jvm[r["doc_id"]], r["doc_id"]


@pytest.mark.slow
def test_simhash_arrow_matches_jvm(spark, sf_dir):
    """The Arrow/numpy simhash (md5-per-distinct-token + segment-sum
    votes) must reproduce the JVM expression fold EXACTLY — same word
    hash, same majority rule, same zero-token drops — on the real
    documents table."""
    from spark_sql_hbase_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_fingerprints_jvm,
    )
    from spark_sql_hbase_spark.queries import table

    docs = table(spark, sf_dir, "documents")
    arrow = {r["id"]: r["simhash"] for r in simhash_fingerprints(docs, "doc_id", "text").collect()}
    jvm = {r["id"]: r["simhash"] for r in simhash_fingerprints_jvm(docs, "doc_id", "text").collect()}
    assert arrow == jvm and len(arrow) > 0


@pytest.mark.slow
def test_fused_shingle_bands_match_unfused(spark, sf_dir):
    """The fused Arrow pass (shingles + OPH band keys in one crossing)
    must produce the same shingle arrays as the JVM fold and the same
    band keys as the unfused Arrow OPH over those arrays."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.dedup import (
        _shingle_sets,
        minhash_band_keys_arrow,
        shingle_sets_and_bands_arrow,
    )
    from spark_sql_hbase_spark.queries import table

    docs = table(spark, sf_dir, "documents")
    fused = shingle_sets_and_bands_arrow(docs, "doc_id", "text", 3, 128, 4)
    got_sets = {r["id"]: list(r["sh"]) for r in fused.collect()}
    want_sets = {
        r["id"]: list(r["sh"])
        for r in _shingle_sets(docs, "doc_id", "text", 3)
        .filter(F.size("sh") > 0)
        .collect()
    }
    assert got_sets == want_sets and len(got_sets) > 0
    got_bands = {
        (r["id"], r["band_key"])
        for r in fused.select("id", F.explode("band_keys").alias("band_key")).collect()
    }
    want_bands = {
        (r["id"], r["band_key"])
        for r in minhash_band_keys_arrow(
            _shingle_sets(docs, "doc_id", "text", 3).filter(F.size("sh") > 0), 128, 4
        ).collect()
    }
    assert got_bands == want_bands


@pytest.mark.slow
def test_cosine_topk_arrow_matches_jvm(spark, sf_dir):
    """The Arrow brute-force scorer must reproduce the JVM
    zip_with/aggregate fold BIT-exactly (sequential prefix-sum dots, same
    widening, same divide) — compared UNROUNDED would be ideal, but the
    operator's contract output (cos rounded to 4, rank, ids) is what the
    oracle hashes, so pin the full output on the real embeddings table."""
    from spark_sql_hbase_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_jvm,
    )
    from spark_sql_hbase_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 8")
    got = sorted(map(tuple, cosine_topk(emb, queries, "vec_id", "embedding", 10).collect()))
    want = sorted(map(tuple, cosine_topk_jvm(emb, queries, "vec_id", "embedding", 10).collect()))
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_assign_cells_arrow_matches_jvm(spark, sf_dir):
    """assign_cells with a driver-side model (Arrow argmin) must produce
    the identical cell per vector as the broadcast-relation expression
    path (same rounded-d2 law, same lowest-key ties)."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import _to_double, assign_cells
    from spark_sql_hbase_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    seeds = (
        emb.filter(F.col("vec_id") < 4)
        .select("vec_id", _to_double(F.col("embedding")).alias("ev"))
        .collect()
    )
    cents = [(int(r["vec_id"]), list(r["ev"])) for r in sorted(seeds, key=lambda r: r["vec_id"])]
    cent_df = spark.createDataFrame(
        [(cid, cv) for cid, cv in cents], "cell bigint, cv array<double>"
    )
    got = {r["vec_id"]: r["cell"] for r in assign_cells(emb, cents, "vec_id", "embedding").collect()}
    want = {r["vec_id"]: r["cell"] for r in assign_cells(emb, cent_df, "vec_id", "embedding").collect()}
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_pq_encode_arrow_matches_jvm(spark, sf_dir):
    """pq_encode with driver-side books (Arrow argmin) must produce the
    identical code arrays as the broadcast-relation expression path."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import (
        _codebook_relation,
        _to_double,
        pq_encode,
    )
    from spark_sql_hbase_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    seeds = (
        emb.filter(F.col("vec_id") < 8)
        .select("vec_id", _to_double(F.col("embedding")).alias("ev"))
        .collect()
    )
    seeds = sorted(seeds, key=lambda r: r["vec_id"])
    sub, m = 16, 4
    books = [
        [(int(r["vec_id"]), list(r["ev"])[s * sub : (s + 1) * sub]) for r in seeds]
        for s in range(m)
    ]
    books_df = _codebook_relation(spark, books)
    got = {r["id"]: list(r["codes"]) for r in pq_encode(emb, books, "vec_id", "embedding").collect()}
    want = {r["id"]: list(r["codes"]) for r in pq_encode(emb, books_df, "vec_id", "embedding").collect()}
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_sq8_ann_arrow_matches_jvm(spark, sf_dir):
    """The Arrow SQ8 scorer (numpy encode/decode/dot in the JVM
    expressions' exact FP order + Spark's HALF_UP rounding) must produce
    the identical full output as the expression twin."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import (
        sq8_ann_topk,
        sq8_ann_topk_jvm,
    )
    from spark_sql_hbase_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 5")
    got = sorted(map(tuple, sq8_ann_topk(emb, queries, "vec_id", "embedding", 10).collect()))
    want = sorted(map(tuple, sq8_ann_topk_jvm(emb, queries, "vec_id", "embedding", 10).collect()))
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_kmeans_step_list_matches_df(spark, sf_dir):
    """kmeans_step with a driver-side [(cluster_id, cv)] list (Arrow
    argmin assignment, round 14) must produce the identical long-format
    step output as the broadcast-relation expression path — same
    rounded-distance / lowest-key assignment law, same averaging."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import _to_double, kmeans_step
    from spark_sql_hbase_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    seeds = (
        emb.filter(F.col("vec_id") < 4)
        .select("vec_id", _to_double(F.col("embedding")).alias("ev"))
        .collect()
    )
    cents = [
        (int(r["vec_id"]), list(r["ev"]))
        for r in sorted(seeds, key=lambda r: r["vec_id"])
    ]
    cent_df = spark.createDataFrame(cents, "cluster_id bigint, cv array<double>")
    got = sorted(map(tuple, kmeans_step(emb, cents).collect()))
    want = sorted(map(tuple, kmeans_step(emb, cent_df).collect()))
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_residualize_list_matches_df(spark, sf_dir):
    """residualize with a driver-side model (fused Arrow assign+subtract,
    round 14) must produce bit-identical residuals and cells to the
    broadcast-join + zip_with expression path."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import (
        _centroid_relation,
        _to_double,
        residualize,
    )
    from spark_sql_hbase_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    seeds = (
        emb.filter(F.col("vec_id") < 4)
        .select("vec_id", _to_double(F.col("embedding")).alias("ev"))
        .collect()
    )
    cents = [
        (int(r["vec_id"]), list(r["ev"]))
        for r in sorted(seeds, key=lambda r: r["vec_id"])
    ]
    cent_df = _centroid_relation(spark, cents)
    got = {
        r["vec_id"]: (r["cell"], tuple(r["embedding"]))
        for r in residualize(emb, cents, "vec_id", "embedding").collect()
    }
    want = {
        r["vec_id"]: (r["cell"], tuple(r["embedding"]))
        for r in residualize(emb, cent_df, "vec_id", "embedding").collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_ivfpq_index_codes_matches_composition(spark, sf_dir):
    """The fused one-pass IVF-PQ index build (both models as driver-side
    lists) must emit the identical (id, cell, codes) relation as the
    unfused assign_cells|residualize → pq_encode composition (models as
    DataFrames), for both the raw and the residual form."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import (
        _centroid_relation,
        _codebook_relation,
        _to_double,
        ivfpq_index_codes,
    )
    from spark_sql_hbase_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    seeds = (
        emb.filter(F.col("vec_id") < 8)
        .select("vec_id", _to_double(F.col("embedding")).alias("ev"))
        .collect()
    )
    seeds = sorted(seeds, key=lambda r: r["vec_id"])
    cents = [(int(r["vec_id"]), list(r["ev"])) for r in seeds if r["vec_id"] < 4]
    sub, m = 16, 4
    books = [
        [
            (int(r["vec_id"]), list(r["ev"])[s * sub : (s + 1) * sub])
            for r in seeds
        ]
        for s in range(m)
    ]
    cent_df = _centroid_relation(spark, cents)
    books_df = _codebook_relation(spark, books)
    for residual in (False, True):
        got = {
            r["id"]: (r["cell"], tuple(r["codes"]))
            for r in ivfpq_index_codes(
                emb, cents, books, "vec_id", "embedding", residual=residual
            ).collect()
        }
        want = {
            r["id"]: (r["cell"], tuple(r["codes"]))
            for r in ivfpq_index_codes(
                emb, cent_df, books_df, "vec_id", "embedding", residual=residual
            ).collect()
        }
        assert got == want and len(got) > 0, f"residual={residual}"


@pytest.mark.slow
def test_duplicate_span_hashes_arrow_matches_jvm(spark, sf_dir):
    """The Arrow rolling-window md5 hashes must equal the OLD JVM
    ``conv(substring(md5(concat_ws(' ', slice(...)))), 16, 10)``
    expression digit for digit on the real corpus, including stride
    starts and the short-doc empty branch — hashlib md5 and the JVM md5
    must agree byte for byte on every window string."""
    import hashlib

    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.functions.texthash import tokens
    from spark_sql_hbase_spark.queries import table

    docs = table(spark, sf_dir, "documents")
    for window, stride in ((10, 1), (10, 4)):
        wh = (
            f"CASE WHEN size(__tok) >= {window} THEN "
            f"transform(sequence(0, size(__tok) - {window}, {stride}), "
            f"i -> cast(conv(substring(md5(concat_ws(' ', slice(__tok, i + 1, "
            f"{window}))), 1, 14), 16, 10) AS BIGINT)) "
            f"ELSE cast(array() AS array<bigint>) END"
        )
        rows = (
            docs.select(
                F.col("doc_id").alias("id"), tokens(F.col("text")).alias("__tok")
            )
            .select("id", "__tok", F.expr(wh).alias("whs"))
            .collect()
        )
        assert len(rows) > 0
        for r in rows:
            toks = list(r["__tok"])
            if len(toks) < window:
                got = []
            else:
                got = [
                    int(
                        hashlib.md5(
                            " ".join(toks[i : i + window]).encode("utf-8")
                        ).hexdigest()[:14],
                        16,
                    )
                    for i in range(0, len(toks) - window + 1, stride)
                ]
            assert got == list(r["whs"]), r["id"]


def test_lsh_verify_scopes_agree(spark, sf_dir):
    """corpus- and candidates-scoped verification produce the identical
    exact result (and, because the Python shingle twin matches the JVM
    fold, identical band keys → identical candidates)."""
    from spark_sql_hbase_spark.operators.dedup import minhash_lsh_join
    from spark_sql_hbase_spark.queries import table

    docs = table(spark, sf_dir, "documents")
    a = minhash_lsh_join(docs, "doc_id", "text", 0.6, 3, verify_scope="corpus")
    b = minhash_lsh_join(docs, "doc_id", "text", 0.6, 3, verify_scope="candidates")
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb and len(ra) > 0


# -- sqlfront fuzz -----------------------------------------------------------
_tricky_text = st.text(
    alphabet="abyz 09(),.*=<>-_;|" + "selectvaluesinsertfromwher",
    min_size=0,
    max_size=40,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_tricky_text, min_size=1, max_size=4))
def test_sqlfront_insert_roundtrips_tricky_values(spark, tmp_path_factory, vals):
    """VALUES payloads containing SQL keywords, parens, commas, and
    operators survive the router byte-identically."""
    from spark_sql_hbase_spark.session import EngineSession

    sess = EngineSession(
        spark=spark, warehouse_dir=str(tmp_path_factory.mktemp("fuzz_wh"))
    )
    prev = spark.catalog.currentDatabase()
    try:
        sess.sql(
            "CREATE TABLE fz.t (row_key string, `cf:v` string) "
            "USING keyed OPTIONS (generator='sequence')"
        )
        lits = ", ".join("('k', '{}')".format(v.replace("'", "''")) for v in vals)
        sess.sql(f"insert into fz.t values {lits}")
        got = sorted(r["cf:v"] for r in sess.sql("select * from fz.t").collect())
        assert got == sorted(vals)
    finally:
        spark.catalog.setCurrentDatabase(prev)
        sess.store.drop_table("fz.t")


def test_kmeans_iterations_reduce_inertia(spark, sf_dir):
    """Lloyd's algorithm: total within-cluster squared distance is
    non-increasing across iterations (checked over the real embeddings)."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import (
        _to_double,
        kmeans_step,
        squared_l2,
    )
    from spark_sql_hbase_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")

    def centroids_df(rows):
        by_c: dict = {}
        for r in rows:
            by_c.setdefault(r["cluster_id"], []).append((r["dim"], r["centroid"]))
        data = [(cid, [v for _, v in sorted(d)]) for cid, d in sorted(by_c.items())]
        return spark.createDataFrame(data, "cluster_id long, cv array<double>")

    def inertia(cent):
        lits = [
            F.struct(
                F.round(
                    squared_l2(F.col("ev"), F.array(*[F.lit(x) for x in r["cv"]])), 6
                ).alias("d2"),
                F.lit(r["cluster_id"]).alias("cluster_id"),
            )
            for r in cent.collect()
        ]
        v = emb.select(_to_double(F.col("embedding")).alias("ev"))
        return v.select(
            F.array_min(F.array(*lits))["d2"].alias("d2")
        ).agg(F.sum("d2")).collect()[0][0]

    cent = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cluster_id"), _to_double(F.col("embedding")).alias("cv")
    )
    scores = [inertia(cent)]
    for _ in range(3):
        cent = centroids_df(kmeans_step(emb, cent).collect())
        scores.append(inertia(cent))
    assert all(b <= a + 1e-6 for a, b in zip(scores, scores[1:])), scores
    assert scores[-1] < scores[0]


def test_learned_ivf_cells_give_useful_recall(spark, sf_dir):
    """End-to-end IVF construction: k-means-learned cells (z22 operator)
    replace the precomputed label column, and partitioned ANN over the
    learned cells recovers a solid fraction of the brute-force top-5.
    (Recall < 1 is expected — single-probe IVF misses cross-cell
    neighbors; the point is the learned quantizer plugs into the same
    partitioned operator.)"""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import (
        _to_double,
        cosine_topk,
        kmeans,
        partitioned_ann_topk,
        squared_l2,
    )
    from spark_sql_hbase_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    final = kmeans(emb, k=4, n_iter=3).collect()
    by_c: dict = {}
    for r in final:
        by_c.setdefault(r["cluster_id"], []).append((r["dim"], r["centroid"]))
    cent = [(cid, [v for _, v in sorted(d)]) for cid, d in sorted(by_c.items())]

    ev = _to_double(F.col("embedding"))
    lits = [
        F.struct(
            F.round(squared_l2(ev, F.array(*[F.lit(x) for x in cv])), 6).alias("d2"),
            F.lit(cid).alias("cluster_id"),
        )
        for cid, cv in cent
    ]
    cells = emb.select(
        "vec_id",
        "embedding",
        F.array_min(F.array(*lits))["cluster_id"].alias("cell"),
    )

    queries = cells.filter(F.col("vec_id") < 8)
    approx = partitioned_ann_topk(cells, queries, "vec_id", "embedding", "cell", k=5)
    exact = cosine_topk(emb, emb.filter(F.col("vec_id") < 8), "vec_id", "embedding", 5)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.4, recall


def test_lsh_text_paths_tolerate_null_text(spark):
    """NULL / empty text rows must not crash the text-direct banding
    paths (review finding r2): they contribute no shingles, like the JVM
    fold."""
    from spark_sql_hbase_spark.operators.dedup import minhash_lsh_join

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, None),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_lsh_join(
        df, "doc_id", "text", 0.5, 3, verify_scope="candidates"
    ).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}


def test_kmeans_seeds_lowest_ids_not_id_lt_k(spark):
    """Seeding takes the k lowest ids — 1-based id spaces must still get
    k seeds (review finding r2)."""
    import random

    from spark_sql_hbase_spark.operators.similarity import kmeans

    rng = random.Random(7)
    rows = [(i + 1, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans(df, k=3, n_iter=2).collect()
    clusters = {r["cluster_id"] for r in out}
    assert clusters == {1, 2, 3}, clusters  # the three lowest (1-based) ids


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """nprobe=2 over kmeans-learned cells recovers at least as many
    brute-force top-5 neighbors as nprobe=1, and strictly more than half."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import (
        _to_double,
        cosine_topk,
        kmeans,
        multiprobe_ann_topk,
        squared_l2,
    )
    from spark_sql_hbase_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    final = kmeans(emb, k=4, n_iter=3).collect()
    by_c: dict = {}
    for r in final:
        by_c.setdefault(r["cluster_id"], []).append((r["dim"], r["centroid"]))
    cent = [(cid, [v for _, v in sorted(d)]) for cid, d in sorted(by_c.items())]

    ev = _to_double(F.col("embedding"))
    lits = [
        F.struct(
            F.round(squared_l2(ev, F.array(*[F.lit(x) for x in cv])), 6).alias("d2"),
            F.lit(cid).alias("cell"),
        )
        for cid, cv in cent
    ]
    cells = emb.select(
        "vec_id", "embedding", F.array_min(F.array(*lits))["cell"].alias("cell")
    )
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, "vec_id", "embedding", 5).collect()
    }

    def recall(nprobe):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in multiprobe_ann_topk(
                cells, queries, cent, "vec_id", "embedding", "cell", 5, nprobe
            ).collect()
        }
        return len(got & exact) / len(exact)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1, (r1, r2)
    assert r2 > 0.5, (r1, r2)


def test_incremental_lsh_tolerates_overlapping_ids(spark):
    """ADVICE r2 (medium): new and corpus are different tables, so an id
    value may appear on both sides.  Verification must resolve id_a only
    against `new` and id_b only against `corpus` — the old single-frame
    union joined both docs onto each side and corrupted the Jaccard."""
    from spark_sql_hbase_spark.operators.dedup import minhash_lsh_join_incremental

    text_a = "the quick brown fox jumps over the lazy dog again and again ok"
    # corpus id 1 is a near-dup of new id 1's text; corpus also holds an
    # unrelated doc under id 2 while new holds a DIFFERENT doc under id 2
    new = spark.createDataFrame(
        [(1, text_a), (2, "completely unrelated payload about spark plans")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [(1, text_a + " extra"), (2, "another corpus document on parquet files")],
        "doc_id long, text string",
    )
    rows = minhash_lsh_join_incremental(
        new, corpus, "doc_id", "text", threshold=0.5
    ).collect()
    pairs = {(r.id_a, r.id_b): r.jac for r in rows}
    assert (1, 1) in pairs, rows
    # exact Jaccard of the true (new-1, corpus-1) pair — not a self-match
    # of either doc with itself (which would be 1.0)
    assert pairs[(1, 1)] < 1.0
    assert (2, 2) not in pairs


@pytest.mark.slow
def test_pq_trained_codebooks_beat_untrained_reconstruction(spark, sf_dir):
    """Lloyd training per subspace must reduce PQ quantization error:
    mean squared reconstruction error with pq_train codebooks < error
    with the naive first-ksub-vectors codebook the z38 gate uses."""
    from spark_sql_hbase_spark.operators.similarity import (
        _to_double,
        pq_encode,
        pq_train,
    )
    from spark_sql_hbase_spark.queries import table as qtable
    from pyspark.sql import functions as F2

    emb = qtable(spark, sf_dir, "embeddings")
    m, sub, ksub = 4, 16, 8
    seeds = (
        emb.filter(F2.col("vec_id") < ksub)
        .select("vec_id", _to_double(F2.col("embedding")).alias("ev"))
        .collect()
    )
    naive = [
        [
            (int(r["vec_id"]), list(r["ev"])[s * sub : (s + 1) * sub])
            for r in sorted(seeds, key=lambda r: r["vec_id"])
        ]
        for s in range(m)
    ]
    trained = pq_train(emb, m=m, ksub=ksub, n_iter=3)

    vecs = {
        r["vec_id"]: list(r["ev"])
        for r in emb.select("vec_id", _to_double(F2.col("embedding")).alias("ev")).collect()
    }

    def mse(books):
        codes = {
            r["id"]: list(r["codes"])
            for r in pq_encode(emb, books, "vec_id", "embedding").collect()
        }
        total = 0.0
        for vid, v in vecs.items():
            for s in range(m):
                cv = dict(books[s])[codes[vid][s]]
                total += sum(
                    (v[s * sub + i] - cv[i]) ** 2 for i in range(sub)
                )
        return total / len(vecs)

    assert mse(trained) < mse(naive), (mse(trained), mse(naive))


@pytest.mark.slow
def test_pq_adc_recall_beats_random(spark, sf_dir):
    """PQ ADC top-10 must overlap the exact L2 top-10 far above the
    random baseline (10/N) — the approximation has to carry signal."""
    from spark_sql_hbase_spark.operators.similarity import (
        pq_ann_topk,
        pq_encode,
        pq_train,
        squared_l2,
        _to_double,
    )
    from spark_sql_hbase_spark.queries import table as qtable
    from pyspark.sql import Window as W2
    from pyspark.sql import functions as F2

    emb = qtable(spark, sf_dir, "embeddings")
    n = emb.count()
    books = pq_train(emb, m=4, ksub=8, n_iter=3)
    queries = emb.filter(F2.col("vec_id") < 8)
    codes = pq_encode(emb, books, "vec_id", "embedding")
    approx = pq_ann_topk(codes, queries, books, k=10)

    q = queries.select(
        F2.col("vec_id").alias("query_id"), _to_double(F2.col("embedding")).alias("qv")
    )
    c = emb.select(
        F2.col("vec_id").alias("neighbor_id"), _to_double(F2.col("embedding")).alias("cv")
    )
    w = W2.partitionBy("query_id").orderBy(F2.col("d2"), F2.col("neighbor_id"))
    exact = (
        c.join(F2.broadcast(q), F2.col("neighbor_id") != F2.col("query_id"))
        .select("query_id", "neighbor_id", squared_l2(F2.col("qv"), F2.col("cv")).alias("d2"))
        .withColumn("rank", F2.row_number().over(w))
        .filter(F2.col("rank") <= 10)
    )
    ap = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    recall = len(ap & ex) / len(ex)
    random_baseline = 10.0 / max(n - 1, 1)
    # m=4 x ksub=8 is a 16x-compression quantizer; measured recall ~0.26
    # vs random ~0.02 — assert the approximation carries strong signal,
    # not an arbitrary absolute bar
    assert recall >= max(0.15, 5 * random_baseline), (recall, random_baseline)


@pytest.mark.slow
def test_ivfadc_recall_dominates_flat_pq_at_equal_scan_fraction(spark, sf_dir):
    """IVFADC with a TRAINED coarse quantizer (kmeans cells + pq_train
    books, nprobe=2 of 4 cells) scores only the rows in probed cells —
    roughly half the corpus.  At that same scan budget, flat PQ ADC over
    a hash-selected half of the corpus must not beat it: the learned
    cells concentrate true neighbors into the probed subset, a random
    subset loses them uniformly.  Also: IVFADC over ALL cells (nprobe=4)
    must equal flat PQ exactly — the composition degrades to s07 when
    nothing is pruned."""
    from pyspark.sql import functions as F2

    from spark_sql_hbase_spark.operators.similarity import (
        _to_double,
        assign_cells,
        ivfadc_ann_topk,
        kmeans,
        pq_ann_topk,
        pq_encode,
        pq_train,
        squared_l2,
    )
    from spark_sql_hbase_spark.queries import table as qtable
    from pyspark.sql import Window as W2

    emb = qtable(spark, sf_dir, "embeddings")
    final = kmeans(emb, k=4, n_iter=3).collect()
    by_c: dict = {}
    for r in final:
        by_c.setdefault(r["cluster_id"], []).append((r["dim"], r["centroid"]))
    cents = [(cid, [v for _, v in sorted(d)]) for cid, d in sorted(by_c.items())]
    books = pq_train(emb, m=4, ksub=8, n_iter=3)

    cells = assign_cells(emb, cents, "vec_id", "embedding")
    codes = pq_encode(cells, books, "vec_id", "embedding", extra_cols=("cell",))
    queries = emb.filter(F2.col("vec_id") < 8)

    # exact L2 ground truth
    q = queries.select(
        F2.col("vec_id").alias("query_id"), _to_double(F2.col("embedding")).alias("qv")
    )
    c = emb.select(
        F2.col("vec_id").alias("neighbor_id"), _to_double(F2.col("embedding")).alias("cv")
    )
    w = W2.partitionBy("query_id").orderBy(F2.col("d2"), F2.col("neighbor_id"))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in (
            c.join(F2.broadcast(q), F2.col("neighbor_id") != F2.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                squared_l2(F2.col("qv"), F2.col("cv")).alias("d2"),
            )
            .withColumn("rank", F2.row_number().over(w))
            .filter(F2.col("rank") <= 10)
        ).collect()
    }

    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivfadc_ann_topk(
            codes, queries, cents, books, k=10, nprobe=2
        ).collect()
    }
    # measure the actual PER-QUERY scan fraction IVFADC paid (scored
    # candidate pairs / all-pairs) and give flat PQ a hash-selected
    # subset of >= that size
    n_total = emb.count()
    n_queries = queries.count()
    probed = ivfadc_ann_topk(codes, queries, cents, books, k=10**9, nprobe=2)
    frac = probed.count() / (n_queries * (n_total - 1))
    flat_codes = pq_encode(emb, books, "vec_id", "embedding")
    subset = flat_codes.filter(
        (F2.abs(F2.hash(F2.col("id"))) % 100) < int(frac * 100) + 1
    )
    rand = {
        (r.query_id, r.neighbor_id)
        for r in pq_ann_topk(subset, queries, books, k=10).collect()
    }
    r_ivf = len(ivf & exact) / len(exact)
    r_rand = len(rand & exact) / len(exact)
    assert r_ivf >= r_rand, (r_ivf, r_rand, frac)
    assert r_ivf > 0.1, r_ivf

    # nprobe = all cells == flat PQ (sanity: the composition is exact
    # over the unpruned candidate set)
    all_ivf = sorted(
        map(tuple, ivfadc_ann_topk(codes, queries, cents, books, k=10, nprobe=4).collect())
    )
    all_flat = sorted(
        map(tuple, pq_ann_topk(flat_codes, queries, books, k=10).collect())
    )
    assert all_ivf == all_flat


@pytest.mark.slow
def test_residual_ivfpq_reconstructs_better_than_raw_pq(spark, sf_dir):
    """IVFADC proper (Jegou et al. 2011 §IV.B): quantizing CELL RESIDUALS
    with the same m x ksub code budget must reconstruct the vectors with
    lower MSE than raw-vector PQ — residuals carry less energy, so the
    codebooks resolve finer structure.  Also smoke the residual search
    path end-to-end (k rows per query, recall above noise)."""
    from pyspark.sql import functions as F2

    from spark_sql_hbase_spark.operators.similarity import (
        _to_double,
        ivfadc_ann_topk,
        ivfpq_train,
        pq_encode,
        pq_train,
        residualize,
    )
    from spark_sql_hbase_spark.queries import table as qtable

    emb = qtable(spark, sf_dir, "embeddings")
    sub = 16
    cents, rbooks = ivfpq_train(emb, n_cells=4, m=4, ksub=8, n_iter=3)
    rcodes = pq_encode(
        residualize(emb, cents), rbooks, extra_cols=("cell",)
    ).collect()
    raw_books = pq_train(emb, m=4, ksub=8, n_iter=3)
    raw_codes = pq_encode(emb, raw_books).collect()
    vecs = {
        r["vec_id"]: list(r["ev"])
        for r in emb.select(
            "vec_id", _to_double(F2.col("embedding")).alias("ev")
        ).collect()
    }
    cmap = {cid: list(cv) for cid, cv in cents}

    def mse(codes, books, use_cell):
        total = 0.0
        for r in codes:
            rec = list(cmap[r["cell"]]) if use_cell else [0.0] * 64
            for s, code in enumerate(r["codes"]):
                subv = dict(books[s])[code]
                for j, v in enumerate(subv):
                    rec[s * sub + j] += v
            x = vecs[r["id"]]
            total += sum((a - b) ** 2 for a, b in zip(x, rec))
        return total / len(codes)

    m_res = mse(rcodes, rbooks, use_cell=True)
    m_raw = mse(raw_codes, raw_books, use_cell=False)
    assert m_res < m_raw, (m_res, m_raw)

    # residual search path: plumbing + signal
    codes_df = pq_encode(residualize(emb, cents), rbooks, extra_cols=("cell",))
    queries = emb.filter(F2.col("vec_id") < 8)
    out = ivfadc_ann_topk(
        codes_df, queries, cents, rbooks, k=5, nprobe=2, residual=True
    ).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert all(len(v) == 5 for v in per_q.values()), per_q


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.lists(st.sampled_from("abc"), min_size=0, max_size=8), min_size=1, max_size=6))
@pytest.mark.slow
def test_duplicate_spans_matches_python_reference(spark, token_docs):
    """duplicate_spans must agree with a plain-Python rolling-window
    counter on arbitrary tiny corpora (short docs, empty docs, heavy
    repetition — the alphabet is 3 letters so cross-doc collisions are
    common by construction)."""
    from collections import Counter

    from spark_sql_hbase_spark.operators.dedup import duplicate_spans

    w = 3
    docs = [(i, " ".join(toks)) for i, toks in enumerate(token_docs)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["id"]: (r["n_windows"], r["n_dup_windows"])
        for r in duplicate_spans(df, "doc_id", "text", window=w).collect()
    }

    wins = {
        i: (
            [" ".join(toks[j : j + w]) for j in range(len(toks) - w + 1)]
            if len(toks) >= w
            else []
        )
        for i, toks in enumerate(token_docs)
    }
    cnt = Counter(x for ws in wins.values() for x in ws)
    expect = {
        i: (len(ws), sum(1 for x in ws if cnt[x] >= 2)) for i, ws in wins.items()
    }
    assert got == expect, (got, expect)


def test_duplicate_spans_df_cap_drops_boilerplate(spark):
    """max_df (round 5): hashes with corpus count > max_df leave the
    duplicated set, so a window repeated everywhere (boilerplate) stops
    counting toward dup mass while ordinary duplicates still do."""
    from spark_sql_hbase_spark.operators.dedup import duplicate_spans

    boiler = "alpha beta gamma"            # in every doc → df = 4
    docs = [
        (0, f"{boiler} one two three"),
        (1, f"{boiler} one two three"),    # "one two three" df = 2
        (2, f"{boiler} four five six"),
        (3, f"{boiler} seven eight nine"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    uncapped = {
        r["id"]: r["n_dup_windows"]
        for r in duplicate_spans(df, "doc_id", "text", window=3).collect()
    }
    capped = {
        r["id"]: r["n_dup_windows"]
        for r in duplicate_spans(df, "doc_id", "text", window=3, max_df=3).collect()
    }
    # every doc has boilerplate-driven dup windows uncapped
    assert all(v > 0 for v in uncapped.values()), uncapped
    # capped: only the genuinely duplicated tail of docs 0/1 remains
    assert capped[2] == 0 and capped[3] == 0, capped
    assert 0 < capped[0] < uncapped[0] and 0 < capped[1] < uncapped[1], (
        capped,
        uncapped,
    )


def test_budget_sample_invariants(spark, sf_dir):
    """budget_sample report invariants: kept ⊆ stratum (tokens and
    docs), a covering budget keeps everything exactly, and the kept
    token mass lands within a loose concentration band of the budget
    when sampling is real (hash-gate expectation argument)."""
    from pyspark.sql import functions as F2

    from spark_sql_hbase_spark.operators.text import budget_sample, ws_token_count
    from spark_sql_hbase_spark.queries import table as qtable

    docs = qtable(spark, sf_dir, "documents")
    totals = {
        r["source"]: r["t"]
        for r in docs.groupBy("source")
        .agg(F2.sum(ws_token_count("text")).alias("t"))
        .collect()
    }
    # covering budget: every stratum kept whole
    big = budget_sample(docs, "source", "doc_id", "text", 10**9).collect()
    assert {r["stratum"]: r["kept_tokens"] for r in big} == totals
    assert all(r["cut"] == 1_000_000 for r in big)

    # real sampling: kept <= total, and aggregate kept mass within
    # [0.2x, 2.5x] of the aggregate budget (loose: ~5-8 docs/stratum)
    budget = 500
    rep = budget_sample(docs, "source", "doc_id", "text", budget).collect()
    for r in rep:
        assert r["kept_tokens"] <= totals[r["stratum"]]
        assert r["kept_docs"] >= 1
    agg_budget = budget * len(totals)
    agg_kept = sum(r["kept_tokens"] for r in rep)
    assert 0.2 * agg_budget <= agg_kept <= 2.5 * agg_budget, (agg_kept, agg_budget)


@pytest.mark.slow
def test_sample_rows_helpers_match_reports(spark, sf_dir):
    """budget_sample_rows / quota_sample_rows materialize EXACTLY what
    the audit report / selection claims (VERDICT r4 "What's missing"
    #2: callers previously had to re-derive the gate by hand), and the
    round-5 report emits kept_docs = kept_tokens = 0 rows for strata
    where nothing clears the gate instead of dropping them (ADVICE
    r4)."""
    from pyspark.sql import functions as F2

    from spark_sql_hbase_spark.operators.text import (
        budget_sample,
        budget_sample_rows,
        quota_sample,
        quota_sample_rows,
        ws_token_count,
    )
    from spark_sql_hbase_spark.queries import table as qtable

    docs = qtable(spark, sf_dir, "documents")
    budget = 500
    rep = {
        r["stratum"]: (r["kept_docs"], r["kept_tokens"])
        for r in budget_sample(docs, "source", "doc_id", "text", budget).collect()
    }
    rows = (
        budget_sample_rows(docs, "source", "doc_id", "text", budget)
        .groupBy("source")
        .agg(
            F2.count(F2.lit(1)).alias("d"),
            F2.sum(ws_token_count("text")).cast("long").alias("t"),
        )
        .collect()
    )
    assert {r["source"]: (r["d"], r["t"]) for r in rows} == {
        s: v for s, v in rep.items() if v[0] > 0
    }
    # materialized rows keep the full original schema
    assert budget_sample_rows(docs, "source", "doc_id", "text", budget).columns == docs.columns

    # zero budget: nothing clears the gate, but EVERY stratum reports
    zero = budget_sample(docs, "source", "doc_id", "text", 0).collect()
    n_strata = docs.select("source").distinct().count()
    assert len(zero) == n_strata
    assert all(r["kept_docs"] == 0 and r["kept_tokens"] == 0 for r in zero)
    assert budget_sample_rows(docs, "source", "doc_id", "text", 0).count() == 0

    k = 5
    sel_ids = sorted(
        r["id"] for r in quota_sample(docs, "source", "doc_id", k).collect()
    )
    got_ids = sorted(
        r["doc_id"] for r in quota_sample_rows(docs, "source", "doc_id", k).collect()
    )
    assert got_ids == sel_ids


@pytest.mark.slow
def test_dataframe_model_matches_list_model(spark, sf_dir):
    """Round 5: every ANN entry point accepts the model as DataFrames —
    persist the model as catalog tables, load it back, and the full
    assign → encode → IVFADC search pipeline must return exactly what
    the driver-side list form returns (the production path: model read
    straight from parquet, zero driver materialization)."""
    import shutil

    from pyspark.sql import functions as F2

    from spark_sql_hbase_spark.operators.similarity import (
        _to_double,
        assign_cells,
        ivfadc_ann_topk,
        load_ivfpq_model,
        persist_ivfpq_model,
        pq_encode,
    )
    from spark_sql_hbase_spark.queries import table as qtable

    emb = qtable(spark, sf_dir, "embeddings")
    seeds = sorted(
        emb.filter(F2.col("vec_id") < 8)
        .select("vec_id", _to_double(F2.col("embedding")).alias("ev"))
        .collect(),
        key=lambda r: r["vec_id"],
    )
    cents = [(int(r["vec_id"]), list(r["ev"])) for r in seeds[:4]]
    books = [
        [(int(r["vec_id"]), list(r["ev"])[s * 16 : (s + 1) * 16]) for r in seeds]
        for s in range(4)
    ]
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    for t in ("ivfpq_model_cents", "ivfpq_model_books"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    persist_ivfpq_model(spark, cents, books, "ivfpq_model_cents", "ivfpq_model_books")
    cent_df, books_df = load_ivfpq_model(
        spark, "ivfpq_model_cents", "ivfpq_model_books"
    )

    queries = emb.filter(F2.col("vec_id") < 8)
    from_list = ivfadc_ann_topk(
        pq_encode(assign_cells(emb, cents), books, extra_cols=("cell",)),
        queries, cents, books, k=5, nprobe=2,
    )
    from_tables = ivfadc_ann_topk(
        pq_encode(assign_cells(emb, cent_df), books_df, extra_cols=("cell",)),
        queries, cent_df, books_df, k=5, nprobe=2,
    )
    assert sorted(map(tuple, from_tables.collect())) == sorted(
        map(tuple, from_list.collect())
    )


def test_round4_operator_edge_cases(spark):
    """Boundary conditions the gate oracles don't reach: nprobe beyond
    the cell count (slice clamps), k beyond the stratum population
    (quota returns what exists), empty/short documents in the span
    scanner, and a budget over an empty-text stratum."""
    from pyspark.sql import functions as F2

    from spark_sql_hbase_spark.operators.dedup import duplicate_spans
    from spark_sql_hbase_spark.operators.similarity import (
        assign_cells,
        ivfadc_ann_topk,
        pq_encode,
    )
    from spark_sql_hbase_spark.operators.text import budget_sample, quota_sample

    # ivfadc: nprobe > #cells must behave as probe-all, not error
    import random

    rng = random.Random(11)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = [(0, vecs[0][1]), (1, vecs[1][1])]
    books = [
        [(c, vecs[c][1][s * 4 : (s + 1) * 4]) for c in range(4)] for s in range(2)
    ]
    cells = assign_cells(emb, cents, "vec_id", "embedding")
    codes = pq_encode(cells, books, "vec_id", "embedding", extra_cols=("cell",))
    out = ivfadc_ann_topk(
        codes, emb.limit(3), cents, books, "vec_id", "embedding", k=3, nprobe=99
    ).collect()
    assert len(out) == 9 and all(r["rank"] <= 3 for r in out)

    # duplicate_spans: docs shorter than the window yield (0, 0, 0.0)
    docs = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, None), (4, "a b c d e")],
        "doc_id long, text string",
    )
    spans = {
        r["id"]: (r["n_windows"], r["n_dup_windows"], r["dup_frac"])
        for r in duplicate_spans(docs, "doc_id", "text", window=3).collect()
    }
    assert spans[1] == (0, 0, 0.0) and spans[2] == (0, 0, 0.0)
    assert spans[3] == (0, 0, 0.0)
    assert spans[4] == (3, 0, 0.0)

    # quota_sample: k larger than the stratum keeps every doc, ranked
    small = spark.createDataFrame(
        [("s", i, f"d{i}") for i in range(3)], "src string, doc_id long, text string"
    )
    q = quota_sample(small, "src", "doc_id", k=10).collect()
    assert len(q) == 3 and sorted(r["rn"] for r in q) == [1, 2, 3]

    # budget_sample: empty-text stratum reports zero totals, keeps all
    empt = spark.createDataFrame(
        [("e", 1, ""), ("e", 2, "")], "src string, doc_id long, text string"
    )
    b = budget_sample(empt, "src", "doc_id", "text", 100).collect()
    assert len(b) == 1 and b[0]["total_tokens"] == 0 and b[0]["kept_tokens"] == 0
    assert b[0]["kept_docs"] == 2  # frac=1 when budget covers the stratum


@pytest.mark.slow
def test_persisted_residual_ivfpq_index_matches_direct(spark, sf_dir):
    """persist_ivfpq_index(residual=True) + ivfadc_ann_topk(residual=
    True) over the catalog table must equal the in-memory residual
    path — the full trained IVFADC production loop round-trips through
    the partitioned index."""
    import shutil

    from pyspark.sql import functions as F2

    from spark_sql_hbase_spark.operators.similarity import (
        ivfadc_ann_topk,
        ivfpq_train,
        persist_ivfpq_index,
        pq_encode,
        residualize,
    )
    from spark_sql_hbase_spark.queries import table as qtable

    emb = qtable(spark, sf_dir, "embeddings")
    cents, books = ivfpq_train(emb, n_cells=4, m=4, ksub=8, n_iter=2)
    spark.sql("DROP TABLE IF EXISTS ivfpq_res_idx")
    loc = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "") + "/ivfpq_res_idx"
    shutil.rmtree(loc, ignore_errors=True)
    persist_ivfpq_index(emb, cents, books, "ivfpq_res_idx", residual=True)

    queries = emb.filter(F2.col("vec_id") < 6)
    from_index = ivfadc_ann_topk(
        spark.table("ivfpq_res_idx"), queries, cents, books, k=5, nprobe=2,
        residual=True,
    )
    direct = ivfadc_ann_topk(
        pq_encode(residualize(emb, cents), books, extra_cols=("cell",)),
        queries, cents, books, k=5, nprobe=2, residual=True,
    )
    assert sorted(map(tuple, from_index.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_semantic_dedup_invariants(spark, sf_dir):
    """SemDeDup audit relation: (a) one row per corpus vector (kept +
    dropped partition the corpus), (b) a threshold above any possible
    cosine keeps everything, (c) the lowest id of every cell is always
    kept (nothing below it to dominate it), (d) every dropped vector
    really has a smaller-id in-cell neighbor at cos >= t (cross-checked
    row-by-row against a brute-force pandas replica)."""
    import itertools

    import numpy as np

    from spark_sql_hbase_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seeds = sorted(
        emb.filter(F.col("vec_id") < 4).collect(), key=lambda r: r["vec_id"]
    )
    cents = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in seeds]

    out = semantic_dedup(emb, cents, "vec_id", "embedding", threshold=0.35)
    rows = {r["vec_id"]: r for r in out.collect()}
    assert len(rows) == emb.count()  # (a)

    allkept = semantic_dedup(emb, cents, "vec_id", "embedding", threshold=1.01)
    assert allkept.filter(~F.col("kept")).count() == 0  # (b)

    by_cell: dict = {}
    for r in rows.values():
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, members in by_cell.items():
        low = min(members, key=lambda r: r["vec_id"])
        assert low["kept"], (cell, low)  # (c)

    # (d) brute-force replica: same rounded cosine rule
    vecs = {
        int(r["vec_id"]): np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    for cell, members in by_cell.items():
        ids = sorted(r["vec_id"] for r in members)
        dominated = set()
        for a, b in itertools.combinations(ids, 2):  # a < b
            va, vb = vecs[a], vecs[b]
            cos = round(
                float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 4
            )
            if cos >= 0.35:
                dominated.add(b)
        for r in members:
            assert r["kept"] == (r["vec_id"] not in dominated), r


def test_temperature_mix_invariants(spark, sf_dir):
    """Temperature mixture plan: q sums to ~1, targets never exceed the
    budget in total, sample_rate <= 1, alpha=1 reproduces the natural
    distribution (q == p), and alpha=0.5 up-weights the smallest source
    relative to its natural share."""
    from spark_sql_hbase_spark.operators.text import temperature_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    budget = 50_000
    plan = temperature_mix(docs, "source", "text", budget, alpha=0.5).collect()
    assert abs(sum(r["q"] for r in plan) - 1.0) < 1e-4
    assert sum(r["target_tokens"] for r in plan) <= budget
    assert all(0.0 <= r["sample_rate"] <= 1.0 for r in plan)
    smallest = min(plan, key=lambda r: r["stream_tokens"])
    assert smallest["q"] > smallest["p"]  # alpha<1 flattens toward uniform

    natural = temperature_mix(docs, "source", "text", budget, alpha=1.0).collect()
    for r in natural:
        assert abs(r["q"] - r["p"]) <= 2e-6, r  # pow(p,1) == p up to rounding


def test_dsir_importance_invariants(spark, sf_dir):
    """DSIR weights: (a) one score per non-empty doc; (b) target == raw
    corpus makes every log-ratio exactly 0 (p-hat == q-hat including the
    smoothing denominators); (c) the target-source docs score higher on
    average than the rest — the average log-ratio of samples drawn from
    p-hat estimates KL(p-hat || q-hat) >= 0 plus sampling noise, which
    is the selling point of the method."""
    from spark_sql_hbase_spark.operators.ranking import dsir_importance

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dsir_importance(
        docs, docs.filter(F.col("source") == "src0"), "doc_id", "text"
    )
    rows = out.collect()
    n_nonempty = docs.filter(F.length(F.trim("text")) > 0).count()
    assert len(rows) == n_nonempty  # (a)

    selfscore = dsir_importance(docs, docs, "doc_id", "text").collect()
    assert all(r["importance"] == 0.0 for r in selfscore), selfscore[:3]  # (b)

    src = {r["doc_id"]: r["source"] for r in docs.select("doc_id", "source").collect()}
    tgt = [r["importance"] for r in rows if src[r["id"]] == "src0"]
    rest = [r["importance"] for r in rows if src[r["id"]] != "src0"]
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)  # (c)


def test_ivfadc_rerank_recall_dominates_adc_only(spark, sf_dir):
    """Exact re-ranking must buy back quantization recall: top-5-of-
    short-list-15 against exact L2 ground truth is at least as good as
    the plain ADC top-5, and the re-ranked d2 values ARE the exact
    distances (spot-checked against numpy)."""
    import numpy as np

    from spark_sql_hbase_spark.operators.similarity import (
        assign_cells,
        ivfadc_ann_topk,
        ivfadc_rerank_topk,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
    vecs = {int(r["vec_id"]): np.array(r["embedding"], np.float64) for r in rows}
    cents = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows[:4]]
    sub = 16
    books = [
        [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]][s * sub : (s + 1) * sub])
            for r in rows[:8]
        ]
        for s in range(4)
    ]
    cells = assign_cells(emb, cents, "vec_id", "embedding")
    codes = pq_encode(cells, books, "vec_id", "embedding", extra_cols=("cell",))
    queries = emb.filter(F.col("vec_id") < 8)

    adc = ivfadc_ann_topk(codes, queries, cents, books, "vec_id", "embedding",
                          k=5, nprobe=2)
    rr = ivfadc_rerank_topk(codes, emb, queries, cents, books, "vec_id",
                            "embedding", k=5, rerank=15, nprobe=2)

    def topk_sets(df, col):
        out: dict = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    truth = {}
    for qid in range(8):
        qv = vecs[qid]
        d = sorted(
            ((round(float(((qv - v) ** 2).sum()), 4), nid)
             for nid, v in vecs.items() if nid != qid)
        )
        truth[qid] = {nid for _, nid in d[:5]}

    adc_sets, rr_sets = topk_sets(adc, "adc"), topk_sets(rr, "d2")
    adc_recall = sum(len(adc_sets[q] & truth[q]) for q in truth) / (5 * len(truth))
    rr_recall = sum(len(rr_sets[q] & truth[q]) for q in truth) / (5 * len(truth))
    assert rr_recall >= adc_recall, (rr_recall, adc_recall)

    # d2 is the exact metric
    for r in rr.collect():
        expect = round(float(((vecs[r["query_id"]] - vecs[r["neighbor_id"]]) ** 2).sum()), 4)
        assert abs(r["d2"] - expect) < 1e-9, (r, expect)


def test_round5_operator_edge_cases(spark):
    """Boundary conditions the round-5 gate oracles don't reach: empty
    corpus / drop-everything thresholds in semantic_dedup, zero budget
    and alpha=0 (uniform) in temperature_mix, an EMPTY target set in
    dsir_importance (pure smoothing ratio, finite), and a re-rank
    short-list smaller than k."""
    import random

    from spark_sql_hbase_spark.operators.ranking import dsir_importance
    from spark_sql_hbase_spark.operators.similarity import (
        assign_cells,
        ivfadc_rerank_topk,
        pq_encode,
        semantic_dedup,
    )
    from spark_sql_hbase_spark.operators.text import temperature_mix

    rng = random.Random(17)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = [(0, vecs[0][1]), (1, vecs[1][1])]

    # semantic_dedup: empty corpus -> empty audit, no error
    assert semantic_dedup(emb.filter("vec_id < 0"), cents).count() == 0
    # threshold below any cosine (cos >= -1) -> only each cell's min id kept
    allpairs = semantic_dedup(emb, cents, threshold=-1.01).collect()
    kept = [r for r in allpairs if r["kept"]]
    cells_seen = {r["cell"] for r in allpairs}
    assert len(kept) == len(cells_seen)
    for c in cells_seen:
        members = [r["vec_id"] for r in allpairs if r["cell"] == c]
        assert min(members) in {r["vec_id"] for r in kept}

    # temperature_mix: zero budget -> zero targets and rates; alpha=0 ->
    # uniform weights regardless of stream size
    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", "word " * (10 + 40 * (i % 3))) for i in range(30)],
        "doc_id long, source string, text string",
    )
    z = temperature_mix(docs, "source", "text", 0, alpha=0.5).collect()
    assert all(r["target_tokens"] == 0 and r["sample_rate"] == 0.0 for r in z)
    u = temperature_mix(docs, "source", "text", 90_000, alpha=0.0).collect()
    qs = {r["q"] for r in u}
    assert len(u) == 3 and max(qs) - min(qs) <= 2e-6, u

    # dsir: empty target -> finite scores (pure smoothing ratio), no error
    d = dsir_importance(docs, docs.filter("doc_id < 0"), "doc_id", "text")
    rows = d.collect()
    assert len(rows) == 30 and all(r["importance"] is not None for r in rows)

    # rerank short-list smaller than k -> at most `rerank` rows per query
    books = [
        [(c, vecs[c][1][s * 4 : (s + 1) * 4]) for c in range(4)] for s in range(2)
    ]
    cells = assign_cells(emb, cents, "vec_id", "embedding")
    codes = pq_encode(cells, books, "vec_id", "embedding", extra_cols=("cell",))
    rr = ivfadc_rerank_topk(
        codes, emb, emb.limit(2), cents, books, k=5, rerank=2, nprobe=2
    ).collect()
    by_q: dict = {}
    for r in rr:
        by_q.setdefault(r["query_id"], []).append(r)
    assert by_q and all(len(v) <= 2 for v in by_q.values()), rr


def test_random_projection_preserves_distances(spark, sf_dir):
    """JL property: 16-dim ±1 projections preserve pairwise squared
    distances in expectation — mean distortion ratio near 1, every ratio
    within the loose (0.2, 3.0) envelope JL guarantees at this dimension
    with overwhelming probability.  Also pins the scale shape: the
    projection plan is SHUFFLE-FREE (packed broadcast matrix + row-local
    fold — zero Exchange nodes)."""
    from spark_sql_hbase_spark.operators.similarity import random_projection

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 40
    )
    proj = random_projection(emb, "vec_id", "embedding", 16)
    from spark_sql_hbase_spark.plans.pushdown import formatted_plan

    fplan = formatted_plan(proj)
    # shuffle-free for the CORPUS: the only exchanges are the packed
    # 16-row matrix's SinglePartition fold + its broadcast — never a
    # hash/range repartition of the embedding table
    assert "hashpartitioning" not in fplan, fplan[:800]
    assert "rangepartitioning" not in fplan, fplan[:800]
    assert "BroadcastNestedLoopJoin" in fplan, fplan[:800]

    rows = {r["vec_id"]: (list(r["embedding"]), list(r["proj"])) for r in proj.collect()}
    assert all(len(p) == 16 for _, p in rows.values())
    ratios = []
    ids = sorted(rows)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            ev_a, pa = rows[ids[x]]
            ev_b, pb = rows[ids[y]]
            d_o = sum((float(a) - float(b)) ** 2 for a, b in zip(ev_a, ev_b))
            d_p = sum((a - b) ** 2 for a, b in zip(pa, pb))
            if d_o > 0:
                ratios.append(d_p / d_o)
    mean = sum(ratios) / len(ratios)
    assert 0.8 < mean < 1.25, mean
    assert all(0.2 < r < 3.0 for r in ratios), (min(ratios), max(ratios))


def test_winnowing_guarantee_and_subset(spark):
    """The winnowing guarantee (Schleimer et al. 2003): two documents
    sharing a substring of >= k + w - 1 tokens MUST share at least one
    fingerprint; and every selected fingerprint is one of the doc's own
    k-gram hashes.  Short docs (>= 1 k-gram, < w of them) emit exactly
    their global minimum."""
    from spark_sql_hbase_spark.operators.text import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens = k+w-1
    rows = [
        (1, "intro words here " + shared + " tail one"),
        (2, shared + " completely different ending text follows now"),
        (3, "no overlap with anything else whatsoever in this document"),
        (4, "tiny doc four words"),  # 4 tokens -> exactly one 4-gram
        (5, "ab"),  # 1 token -> zero 4-grams -> no fingerprints
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(df, "doc_id", "text", k=4, w=5)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "guaranteed shared fingerprint missing"
    assert not (by_doc[3] & by_doc[1])
    assert len(by_doc[4]) == 1  # single k-gram -> its hash is the min
    assert 5 not in by_doc
    # subset property: fingerprints come from the doc's own k-gram hashes
    from spark_sql_hbase_spark.functions.texthash import tokens, word_hash

    grams = (
        df.filter(F.col("doc_id") == 1)
        .select(tokens(F.col("text")).alias("tk"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(tk) - 4), "
                    "i -> concat_ws(' ', slice(tk, i + 1, 4)))"
                )
            ).alias("g")
        )
        .select(word_hash(F.col("g")).alias("h"))
    )
    all_hashes = {r["h"] for r in grams.collect()}
    assert by_doc[1] <= all_hashes


def test_token_entropy_bounds_and_extremes(spark):
    """Entropy is 0 for a constant token stream, ln(n) for n distinct
    tokens appearing once each, and always within [0, ln(dl)]."""
    import math

    from spark_sql_hbase_spark.operators.text import token_entropy

    rows = [
        (1, "same same same same same"),  # constant -> 0
        (2, "one two three four"),  # uniform distinct -> ln(4)
        (3, "a a b b c c d d"),  # uniform over 4 -> ln(4)
        (4, ""),  # empty -> no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in token_entropy(df, "doc_id", "text").collect()}
    assert got[1]["entropy"] == 0.0
    assert abs(got[2]["entropy"] - round(math.log(4), 4)) < 1e-9
    assert abs(got[3]["entropy"] - round(math.log(4), 4)) < 1e-9
    assert 4 not in got
    for r in got.values():  # 5e-5 = half of the 4-dp rounding step
        assert -1e-9 <= r["entropy"] <= math.log(max(r["n_tokens"], 1)) + 5e-5


def test_cms_estimate_dominates_truth(spark, sf_dir):
    """The count-min invariant: counters only over-count on collisions,
    so est >= true_ct for EVERY reported term — and with 3x512 counters
    over the smoke corpus the heavy-hitter set must be non-empty."""
    from spark_sql_hbase_spark.operators.ranking import cms_heavy_hitters
    from spark_sql_hbase_spark.queries import table

    docs = table(spark, sf_dir, "documents")
    out = cms_heavy_hitters(docs, "text", threshold_ppm=1000).collect()
    assert out, "no heavy hitters at 0.1% of the token stream"
    assert all(r["est"] >= r["true_ct"] for r in out)
    # absolute-threshold mode agrees with itself under the min estimate
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cms_heavy_hitters(docs, "text")
    with _pytest.raises(ValueError):
        cms_heavy_hitters(docs, "text", threshold=5, threshold_ppm=5)


def test_canonical_selection_is_argmax_with_min_id_ties(spark):
    """The canonical pick is the highest-score member; ties go to the
    MIN id (deterministic, partition-order-independent)."""
    from spark_sql_hbase_spark.operators.graph import canonical_selection

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (10, 0.2), (11, 0.1)],
        "doc_id long, quality double",
    )
    got = {
        r["cluster_id"]: r
        for r in canonical_selection(pairs, scores).collect()
    }
    assert got[1]["canonical_id"] == 2  # 2 and 3 tie at 0.9 -> min id
    assert got[1]["canonical_score"] == 0.9
    assert got[1]["n_docs"] == 3
    assert got[10]["canonical_id"] == 10
    assert got[10]["n_docs"] == 2


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """A short document embedded verbatim in a much longer one has LOW
    Jaccard (union dominated by the long side) but containment ~= 1 —
    the case this operator exists for."""
    from spark_sql_hbase_spark.operators.dedup import (
        containment_join,
        ngram_jaccard_join,
    )

    short = "the quick brown fox jumps over the lazy dog every single morning"
    filler = " ".join(f"filler{i} word{i} pad{i}" for i in range(40))
    rows = [(1, short), (2, filler + " " + short + " trailing words here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cont = containment_join(df, "doc_id", "text", threshold=0.9).collect()
    assert len(cont) == 1 and cont[0]["cont"] >= 0.99
    jac = ngram_jaccard_join(df, "doc_id", "text", threshold=0.6).collect()
    assert jac == []  # Jaccard misses the embedded copy at any sane t


def test_bloom_decontam_identical_to_exact_even_at_tiny_bitmap(spark, sf_dir):
    """Bloom pre-gating must never change the answer: no false negatives
    + exact verify ⇒ identical to the plain operator — even with a
    pathological 64-bit bitmap where nearly every probe collides (the
    gate then filters nothing and the verify does all the work)."""
    from spark_sql_hbase_spark.operators.decontam import (
        bloom_decontaminate,
        decontaminate,
    )
    from spark_sql_hbase_spark.queries import table

    docs = table(spark, sf_dir, "documents")
    is_eval = (F.col("doc_id") % 29) == 0
    tr, ev = docs.filter(~is_eval), docs.filter(is_eval)
    exact = {
        tuple(r) for r in decontaminate(tr, ev, "doc_id", "text").collect()
    }
    for m_bits in (64, 1 << 18):
        got = {
            tuple(r)
            for r in bloom_decontaminate(
                tr, ev, "doc_id", "text", m_bits=m_bits
            ).collect()
        }
        assert got == exact and len(got) > 0, (m_bits, len(got), len(exact))


def test_oov_rate_bounds_and_full_vocab_zero(spark):
    """OOV rate is within [0,1]; against the corpus' own FULL vocabulary
    it is exactly 0 for every doc; against an empty vocabulary it is
    exactly 1."""
    from spark_sql_hbase_spark.operators.text import oov_rate, vocabulary

    rows = [(1, "alpha beta gamma"), (2, "delta delta epsilon zeta"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = vocabulary(df, "text", top_k=1000).select("term")
    got = oov_rate(df, full, "doc_id", "text").collect()
    assert got and all(r["oov_rate"] == 0.0 and r["n_oov"] == 0 for r in got)
    assert {r["id"] for r in got} == {1, 2}  # empty doc emits no row
    empty = spark.createDataFrame([], "term string")
    got1 = oov_rate(df, empty, "doc_id", "text").collect()
    assert all(r["oov_rate"] == 1.0 and r["n_oov"] == r["n_tokens"] for r in got1)


def test_pmi_collocations_matches_naive_reference(spark):
    """The operator must agree pair-for-pair (and in rank order) with a
    plain-Python replica of the marginal-PMI formula on a small corpus;
    counts respect min_count and the output is capped at top_k."""
    import math
    from collections import Counter

    from spark_sql_hbase_spark.operators.ranking import pmi_collocations

    doc = ("san francisco " + "the cat sat on a mat ") * 6
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    out = pmi_collocations(df, "text", min_count=3, top_k=5).collect()
    assert 0 < len(out) <= 5
    assert all(r["c12"] >= 3 for r in out)
    toks = doc.split()
    big = Counter(zip(toks, toks[1:]))
    c1, c2 = Counter(), Counter()
    for (a, b), c in big.items():
        c1[a] += c
        c2[b] += c
    B = sum(big.values())
    exp = [
        (w1, w2, c, round(math.log((c * float(B)) / (c1[w1] * float(c2[w2]))), 4))
        for (w1, w2), c in big.items()
        if c >= 3
    ]
    exp.sort(key=lambda t: (-t[3], t[0], t[1]))
    got = [(r["w1"], r["w2"], r["c12"], r["pmi"]) for r in out]
    assert got == exp[:5], (got, exp[:5])


def test_split_leakage_sides_differ_and_pairs_are_neardups(spark, sf_dir):
    """Every reported pair crosses the split boundary and is a verified
    near-dup (jac >= the d02 threshold)."""
    from spark_sql_hbase_spark.queries import load_all

    out = load_all()["zf12_split_leakage"].fn(spark, sf_dir).collect()
    assert all(r["side_a"] != r["side_b"] for r in out)
    assert all(r["jac"] >= 0.6 for r in out)


def test_surprisal_buckets_partition_and_order(spark, sf_dir):
    """Buckets partition the corpus ~evenly into thirds; every head doc
    has surprisal <= every middle doc <= every tail doc (tertile law on
    the rounded values)."""
    from spark_sql_hbase_spark.operators.ranking import surprisal_buckets
    from spark_sql_hbase_spark.queries import table

    try:
        docs = table(spark, sf_dir, "documents")
        out = surprisal_buckets(docs, "doc_id", "text").collect()
        by = {}
        for r in out:
            by.setdefault(r["bucket"], []).append(r["surprisal"])
        assert set(by) == {"head", "middle", "tail"}
        assert max(by["head"]) <= min(by["middle"])
        assert max(by["middle"]) <= min(by["tail"])
        n = len(out)
        for b in by.values():  # each tertile within ±20% of n/3
            assert abs(len(b) - n / 3) < 0.2 * n
    finally:
        spark.catalog.clearCache()


def test_line_dedup_matches_python_reference(spark):
    """Per-doc duplicated-line stats agree with a naive Python replica:
    repeated boilerplate sentences are flagged, unique prose is not,
    sub-3-word fragments are ignored."""
    import re as _re

    from spark_sql_hbase_spark.operators.dedup import line_dedup_stats

    rows = [
        (1, "Subscribe to our newsletter today. This is unique prose one."),
        (2, "Subscribe to our newsletter today. Totally different words here."),
        (3, "Nothing shared with anything. Ok."),  # 'ok' fragment ignored
        (4, "!!! ..."),  # no qualifying line -> no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in line_dedup_stats(df, "doc_id", "text").collect()}
    try:
        # naive replica
        def lines(t):
            out = []
            for x in _re.split(r"[.!?]+", t.lower()):
                x = x.strip()
                if x and len([w for w in _re.split(r"[^a-z0-9]+", x) if w]) >= 3:
                    out.append(x)
            return out

        from collections import Counter

        all_lines = Counter()
        per_doc = {i: lines(t) for i, t in rows}
        for ls in per_doc.values():
            all_lines.update(ls)
        for i, ls in per_doc.items():
            if not ls:
                assert i not in got
                continue
            nd = sum(1 for x in ls if all_lines[x] >= 2)
            assert got[i]["n_lines"] == len(ls), (i, got[i])
            assert got[i]["n_dup_lines"] == nd, (i, got[i])
        assert got[1]["n_dup_lines"] == 1 and got[2]["n_dup_lines"] == 1
        assert got[3]["n_dup_lines"] == 0 and got[3]["n_lines"] == 1
    finally:
        spark.catalog.clearCache()


def test_strip_boilerplate_removes_frequent_keeps_unique(spark):
    """Lines above the df cap disappear from every doc; unique prose
    survives verbatim (normalized); stats reconcile."""
    from spark_sql_hbase_spark.operators.dedup import strip_boilerplate_lines

    bp = "subscribe to our newsletter"
    rows = [(i, f"{bp}. unique sentence number {i} here.") for i in range(1, 8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: r
        for r in strip_boilerplate_lines(
            df, "doc_id", "text", max_df=5
        ).collect()
    }
    assert len(out) == 7
    for i, r in out.items():
        assert r["n_lines"] == 2 and r["n_kept"] == 1, r
        assert r["clean_text"] == f"unique sentence number {i} here"
    # below the cap nothing is stripped
    out2 = {
        r["id"]: r
        for r in strip_boilerplate_lines(
            df, "doc_id", "text", max_df=10
        ).collect()
    }
    assert all(r["n_kept"] == 2 for r in out2.values())


def test_strip_boilerplate_counts_document_frequency_not_occurrences(spark):
    """A single document repeating its own unique line 6 times must NOT
    have it stripped at max_df=5 — the cap is DOCUMENT frequency, not
    occurrence count."""
    from spark_sql_hbase_spark.operators.dedup import strip_boilerplate_lines

    solo = ". ".join(["my very own repeated refrain"] * 6) + "."
    rows = [(1, solo)] + [
        (i, f"unrelated unique sentence number {i} here.") for i in range(2, 5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: r
        for r in strip_boilerplate_lines(df, "doc_id", "text", max_df=5).collect()
    }
    assert out[1]["n_kept"] == 6  # df=1, never flagged
    # but a line in SIX DIFFERENT docs does get stripped at max_df=5
    rows2 = [(i, "shared banner line appears here. unique bit %d." % i)
             for i in range(1, 8)]
    df2 = spark.createDataFrame(rows2, "doc_id long, text string")
    out2 = {
        r["id"]: r
        for r in strip_boilerplate_lines(df2, "doc_id", "text", max_df=5).collect()
    }
    assert all(r["n_kept"] == 1 for r in out2.values())


def test_source_standardized_quality_moments(spark):
    """Within every source the z-scores have (up to rounding) mean 0 and
    population variance 1; a constant-quality source standardizes to
    all-zero z."""
    import statistics

    from spark_sql_hbase_spark.operators.text import source_standardized_quality

    rows = (
        [(i, "a", f"varied text with {'word ' * (i % 7)} tail") for i in range(20)]
        + [(100 + i, "b", "identical constant text here") for i in range(5)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = source_standardized_quality(df, "source", "doc_id", "text").collect()
    by = {}
    for r in out:
        by.setdefault(r["source"], []).append(r["z"])
    assert all(z == 0.0 for z in by["b"])
    zs = by["a"]
    assert abs(statistics.mean(zs)) < 1e-3
    assert abs(statistics.pvariance(zs) - 1.0) < 1e-2


def test_leakage_free_split_has_zero_crossing_pairs(spark, sf_dir):
    """The repaired split admits NO near-dup pair crossing train/test —
    the invariant z76 audits becomes a guarantee — AND only boundary
    components moved: docs in no pair keep their hash split exactly, so
    a degenerate everything-to-train regression cannot pass."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.functions.texthash import word_hash
    from spark_sql_hbase_spark.operators.dedup import minhash_lsh_join
    from spark_sql_hbase_spark.queries import load_all, table
    from spark_sql_hbase_spark.queries.llm import JACCARD_T, SHINGLE_N

    Q = load_all()
    split = {
        r["doc_id"]: r["split"]
        for r in Q["zg97_leakage_free_split"].fn(spark, sf_dir).collect()
    }
    docs = table(spark, sf_dir, "documents")
    # the SAME pair law z98 repairs (not a hardcoded twin that can drift)
    pairs = minhash_lsh_join(
        docs, "doc_id", "text", threshold=JACCARD_T, n=SHINGLE_N
    ).collect()
    crossing = [
        (p["id_a"], p["id_b"])
        for p in pairs
        if split[p["id_a"]] != split[p["id_b"]]
    ]
    assert crossing == [], crossing
    # non-component docs keep their hash split verbatim
    in_pairs = {p["id_a"] for p in pairs} | {p["id_b"] for p in pairs}
    h = word_hash(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
    hash_split = {
        r["doc_id"]: r["hs"]
        for r in docs.select(
            "doc_id",
            F.when(h % 10 == 0, F.lit("test")).otherwise(F.lit("train")).alias("hs"),
        ).collect()
    }
    untouched = [d for d in split if d not in in_pairs]
    assert untouched and all(split[d] == hash_split[d] for d in untouched)
    assert any(split[d] == "test" for d in untouched)  # not everything-train
    spark.catalog.clearCache()


def test_resample_ffill_matches_pandas_reference(spark):
    """resample_ffill agrees cell-for-cell with pandas
    resample('1h').last().ffill() on an irregular multi-key series,
    including the deterministic per-bucket last under same-bucket
    collisions."""
    import datetime

    import pandas as pd

    from spark_sql_hbase_spark.operators.asof import resample_ffill

    base = datetime.datetime(2024, 1, 1)
    rows = []
    # key 1: irregular with a 3-hour gap and an intra-bucket collision
    for i, (mins, v) in enumerate(
        [(5, 1.0), (50, 2.0), (55, 3.0), (245, 4.0), (250, 5.0)]
    ):
        rows.append((1, base + datetime.timedelta(minutes=mins), v, i))
    # key 2: single observation
    rows.append((2, base + datetime.timedelta(minutes=90), 9.0, 100))
    df = spark.createDataFrame(
        rows, "k long, ts timestamp, v double, oid long"
    )
    got = {
        (r["key"], r["bucket"]): r["value"]
        for r in resample_ffill(df, "k", "ts", "v", "oid", unit="hour").collect()
    }
    spark.catalog.clearCache()
    exp = {}
    pdf = pd.DataFrame(rows, columns=["k", "ts", "v", "oid"])
    for k, g in pdf.groupby("k"):
        g = g.sort_values(["ts", "oid"]).set_index("ts")
        r = g["v"].resample("1h").last().ffill()
        for ts, v in r.items():
            exp[(k, ts.to_pydatetime())] = v
    assert got == exp, (got, exp)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta eps zeta".split()),
            min_size=0,
            max_size=20,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_winnowing_matches_python_reference(spark, token_lists):
    """winnowing_fingerprints agrees with a plain-Python replica of the
    Schleimer et al. selection (per-window min of k-gram md5-56 hashes,
    short-doc single-min floor) on arbitrary token streams."""
    import hashlib

    from spark_sql_hbase_spark.operators.text import winnowing_fingerprints

    k, w = 3, 4
    rows = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in winnowing_fingerprints(df, "doc_id", "text", k=k, w=w).collect():
        got.setdefault(r["id"], set()).add(r["fp"])

    def h56(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)

    exp = {}
    for i, toks in enumerate(token_lists):
        grams = [
            " ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)
        ]
        hs = [h56(g) for g in grams]
        if not hs:
            continue
        if len(hs) < w:
            exp[i] = {min(hs)}
        else:
            exp[i] = {
                min(hs[j : j + w]) for j in range(len(hs) - w + 1)
            }
    assert got == exp, (got, exp)


# -- round-6: index key encodings are order-preserving ---------------------
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=0x02, max_codepoint=0x7E),
            max_size=12,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_string_index_key_order_matches_value_order(values):
    """The \\x01-composite string index key must sort exactly as
    (value, src_key) for arbitrary printable values — including
    prefix-of pairs and empties."""
    SEP = "\x01"
    rows = [(v, f"{i:04d}") for i, v in enumerate(values)]
    keys = sorted(f"{v}{SEP}{k}" for v, k in rows)
    expect = [f"{v}{SEP}{k}" for v, k in sorted(rows)]
    assert keys == expect


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.integers(min_value=0, max_value=10**12 - 1), min_size=1, max_size=30))
def test_lpad_int_index_key_order_matches_numeric_order(values):
    keys = sorted(f"{v:012d}" for v in values)
    assert [int(k) for k in keys] == sorted(values)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.floats(min_value=0.0, max_value=10**6, allow_nan=False),
        min_size=2,
        max_size=30,
    )
)
def test_fixed_point_index_bucket_is_monotone(values):
    """round(v*scale) must be non-decreasing in v (sound-superset range
    scans) — the law the fractional index encoding relies on."""
    scale = 100
    svals = sorted(values)
    buckets = [round(v * scale) for v in svals]
    assert all(b1 <= b2 for b1, b2 in zip(buckets, buckets[1:]))


# -- round-7: prefix-scan key-successor arithmetic ------------------------
# Valid code points only (no surrogates — unencodable), biased toward the
# adversarial boundary characters the naive last_char+1 bound mishandled.
_edge_chars = st.sampled_from(
    ["\x00", "a", "퟿", "", "￿", "\U0010fffe", "\U0010ffff"]
)
_key_char = st.one_of(
    _edge_chars,
    st.characters(
        min_codepoint=0,
        max_codepoint=0x10FFFF,
        blacklist_categories=("Cs",),  # surrogates
    ),
)
_key = st.text(alphabet=_key_char, min_size=0, max_size=4)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_key, min_size=1, max_size=12), _key)
def test_prefix_scan_equals_startswith(spark, keys, prefix):
    """ADVICE r6: scan_prefix's [prefix, successor) range must equal the
    plain startswith filter for EVERY prefix — including prefixes ending
    in U+D7FF (successor must skip the surrogate block) and U+10FFFF
    (no successor at that position: carry, or lower-bound-only)."""
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    up = KeyedTableStore._prefix_upper_bound(prefix)
    expected = sorted(k for k in set(keys) if k.startswith(prefix))
    # pure successor law: every string with the prefix is < up (when up
    # exists), and up itself does not have the prefix
    if up is not None:
        assert not up.startswith(prefix) or up == prefix  # strict bound
        for k in expected:
            assert prefix <= k < up
    got = sorted(
        k
        for k in set(keys)
        if k >= prefix and (up is None or k < up)
    )
    assert got == expected


def test_prefix_scan_spark_roundtrip_edge_prefixes(spark, tmp_path_factory):
    """The same law through the actual Spark scan for the two boundary
    prefixes the round-6 code raised/crashed on."""
    from spark_sql_hbase_spark.catalog import TableSpec
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    st_ = KeyedTableStore(spark, str(tmp_path_factory.mktemp("wh_prefix")))
    keys = ["a", "a퟿", "a퟿z", "a", "\U0010ffff", "\U0010ffffx", "b"]
    st_.ctas(
        TableSpec(
            namespace="px", name="t", key_type="string",
            families={"c": {"v": "long"}},
        ),
        spark.createDataFrame(
            [(k, i) for i, k in enumerate(keys)], "row_key string, `c:v` long"
        ),
    )
    for prefix in ["a퟿", "\U0010ffff", "a", ""]:
        got = sorted(r["row_key"] for r in st_.scan_prefix("px.t", prefix).collect())
        assert got == sorted(k for k in keys if k.startswith(prefix)), prefix


# -- round-7: selective DML == whole-table semantics ----------------------
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 999), st.integers(0, 5)),
        min_size=1, max_size=50, unique_by=lambda t: t[0],
    ),
    st.integers(0, 5),
)
@pytest.mark.slow
def test_selective_dml_equals_dataframe_semantics(spark, tmp_path_factory, rows, pivot):
    """The selective locate-and-rewrite path (only files containing
    matches are rewritten; the rest hardlink-carry) must be
    semantically IDENTICAL to filtering/projecting the whole table —
    for arbitrary key layouts, multi-file tables, and predicates that
    hit any subset of files (including none or all)."""
    from spark_sql_hbase_spark.catalog import TableSpec
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    st_ = KeyedTableStore(spark, str(tmp_path_factory.mktemp("wh_seldml")))
    spec = TableSpec(
        namespace="sd", name="t", key_type="string",
        families={"c": {"v": "long"}},
    )
    st_.create_table(spec)
    # several appends -> several files with overlapping ranges
    third = max(len(rows) // 3, 1)
    for chunk in (rows[:third], rows[third:2 * third], rows[2 * third:]):
        if chunk:
            st_.insert("sd.t", spark.createDataFrame(
                [(f"{k:04d}", v) for k, v in chunk], "row_key string, `c:v` long"
            ), generate_row_key=False)
    expect = {f"{k:04d}": v for k, v in rows}

    deleted = st_.delete_where("sd.t", f"`c:v` = {pivot}")
    expect = {k: v for k, v in expect.items() if v != pivot}
    assert deleted == len(rows) - len(expect)
    got = {r["row_key"]: r["c:v"] for r in st_.read("sd.t").collect()}
    assert got == expect

    updated = st_.update_where("sd.t", {"c:v": "`c:v` + 100"}, f"`c:v` > {pivot}")
    assert updated == sum(1 for v in expect.values() if v > pivot)
    expect = {k: (v + 100 if v > pivot else v) for k, v in expect.items()}
    got = {r["row_key"]: r["c:v"] for r in st_.read("sd.t").collect()}
    assert got == expect


# -- span-manifest tagged encoding: round-trip + order preservation -------
span_value = st.one_of(
    st.none(),
    st.text(max_size=80),
    st.integers(min_value=-(2**80), max_value=2**80),
    st.binary(max_size=80),
)


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(span_value)
def test_span_value_json_roundtrip_exact(v):
    """Every encodable key-stat value survives a FULL JSON round-trip
    with identical value AND type — a span that came back subtly
    different (str'd int, bytes-as-str) would silently turn range
    pruning lexicographic and mis-prune."""
    import json

    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    wire = json.loads(json.dumps(KeyedTableStore._encode_span_value(v)))
    got = KeyedTableStore._decode_span_value(wire)
    assert got == v
    if v is not None:
        assert type(got) is type(v)


@settings(max_examples=100, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.text(max_size=20), min_size=2, max_size=2, unique=True),
    st.lists(st.binary(max_size=20), min_size=2, max_size=2, unique=True),
    st.lists(st.integers(min_value=-(2**70), max_value=2**70), min_size=2, max_size=2, unique=True),
)
def test_span_value_roundtrip_preserves_order(ss, bs, ii):
    """Ordering comparisons on decoded spans match the originals for
    every same-type pair — the property pruning soundness rests on."""
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    import json

    def rt(v):
        return KeyedTableStore._decode_span_value(
            json.loads(json.dumps(KeyedTableStore._encode_span_value(v)))
        )

    for a, b in (ss, bs, ii):
        assert (rt(a) < rt(b)) == (a < b)


# -- changefeed replication convergence (round 10) -------------------------
# The replication law apply_changes pins by example, checked against a
# MODEL over arbitrary mutation programs: after bootstrap-at-snapshot +
# one snapshot-based feed replay, the replica equals the source equals
# the model — for key-granularity programs on one-row-per-key tables
# and CELL-granularity programs on versioned tables (appends + retention
# GC), the exact semantics ADVICE r10 found broken.

_repl_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("upsert"),
            st.dictionaries(
                st.sampled_from([f"k{i}" for i in range(6)]),
                st.integers(min_value=0, max_value=99),
                min_size=1,
                max_size=4,
            ),
        ),
        st.tuples(
            st.just("delete"),
            st.sets(
                st.sampled_from([f"k{i}" for i in range(6)]),
                min_size=1,
                max_size=3,
            ),
        ),
    ),
    min_size=1,
    max_size=4,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(_repl_ops)
@pytest.mark.slow
def test_replication_converges_for_any_mutation_program(spark, tmp_path_factory, ops):
    from spark_sql_hbase_spark.catalog import TableSpec
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    src = KeyedTableStore(spark, str(tmp_path_factory.mktemp("prop_src")))
    dst = KeyedTableStore(spark, str(tmp_path_factory.mktemp("prop_dst")))
    init = {f"k{i}": i for i in range(4)}
    for stx in (src, dst):
        stx.create_table(
            TableSpec(
                namespace="pr", name="t", key_type="string",
                families={"cf": {"v": "long"}},
            )
        )
        stx.insert(
            "pr.t",
            spark.createDataFrame(
                sorted(init.items()), "row_key string, `cf:v` long"
            ),
            overwrite=True,
        )
    src.snapshot("pr.t", "pr_s1")
    model = dict(init)
    for kind, arg in ops:
        if kind == "upsert":
            src.upsert(
                "pr.t",
                spark.createDataFrame(
                    sorted(arg.items()), "row_key string, `cf:v` long"
                ),
            )
            model.update(arg)
        else:
            src.delete_keys(
                "pr.t",
                spark.createDataFrame(
                    [(k,) for k in sorted(arg)], "row_key string"
                ),
            )
            for k in arg:
                model.pop(k, None)
    dst.apply_changes("pr.t", src.read_changes("pr.t", versus="pr_s1"))
    got = {
        (r["row_key"], r["cf:v"]) for r in dst.read("pr.t").collect()
    }
    assert got == set(model.items())
    src.delete_snapshot("pr_s1")


_cell_ops = st.lists(
    st.one_of(
        # append one new version cell: (key, value); version = next per key
        st.tuples(
            st.just("append"),
            st.tuples(
                st.sampled_from([f"k{i}" for i in range(4)]),
                st.integers(min_value=0, max_value=99),
            ),
        ),
        st.tuples(st.just("gc"), st.just(None)),  # VERSIONS=2 retention
    ),
    min_size=1,
    max_size=5,
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(_cell_ops)
@pytest.mark.slow
def test_versioned_cell_replication_converges(spark, tmp_path_factory, ops):
    from spark_sql_hbase_spark.catalog import TableSpec
    from spark_sql_hbase_spark.sources.keyed_parquet import KeyedTableStore

    src = KeyedTableStore(spark, str(tmp_path_factory.mktemp("prop_vsrc")))
    dst = KeyedTableStore(spark, str(tmp_path_factory.mktemp("prop_vdst")))
    init = [(f"k{i}", 10 + i, 1) for i in range(3)]
    for stx in (src, dst):
        stx.create_table(
            TableSpec(
                namespace="pr", name="v", key_type="string",
                families={"cf": {"val": "long", "ver": "long"}},
                properties={"versions": "2"},
            )
        )
        stx.insert(
            "pr.v",
            spark.createDataFrame(
                init, "row_key string, `cf:val` long, `cf:ver` long"
            ),
            overwrite=True,
        )
    src.snapshot("pr.v", "prv_s1")
    # model: cells as a set of (key, val, ver); next version per key
    model = {(k, v, ver) for k, v, ver in init}
    next_ver = {f"k{i}": 2 for i in range(3)} | {"k3": 1}
    for kind, arg in ops:
        if kind == "append":
            k, val = arg
            ver = next_ver.get(k, 1)
            next_ver[k] = ver + 1
            src.insert(
                "pr.v",
                spark.createDataFrame(
                    [(k, val, ver)],
                    "row_key string, `cf:val` long, `cf:ver` long",
                ),
            )
            model.add((k, val, ver))
        else:
            src.compact_versions("pr.v", "cf:ver", keep_versions=2)
            keep = set()
            for k in {c[0] for c in model}:
                vers = sorted(
                    {c[2] for c in model if c[0] == k}, reverse=True
                )[:2]
                keep |= {c for c in model if c[0] == k and c[2] in vers}
            model = keep
    dst.apply_changes(
        "pr.v",
        src.read_changes("pr.v", versus="prv_s1", cells=True),
        cells=True,
    )
    got = {
        (r["row_key"], r["cf:val"], r["cf:ver"])
        for r in dst.read("pr.v").collect()
    }
    assert got == model
    src.delete_snapshot("prv_s1")


# ---------------------------------------------------------------------------
# Round 11: SQ8 quantizer / embedding outliers / TF-IDF cosine / Lloyd loop
# ---------------------------------------------------------------------------
def test_sq8_codes_bounded_and_degenerate_dim_zero(spark):
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import sq8_bounds, sq8_encode

    rows = [
        (1, [0.0, 5.0, -2.0]),
        (2, [10.0, 5.0, 2.0]),
        (3, [5.0, 5.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    enc = (
        df.crossJoin(F.broadcast(sq8_bounds(df, "embedding", 3)))
        .select(
            "vec_id",
            sq8_encode(F.col("embedding"), F.col("lo"), F.col("hi")).alias("code"),
        )
        .collect()
    )
    by_id = {r["vec_id"]: r["code"] for r in enc}
    # dim 2 is constant (degenerate) -> code 0 everywhere
    assert all(c[1] == 0 for c in by_id.values())
    # extremes land on 0 / 255; everything in range
    assert by_id[1][0] == 0 and by_id[2][0] == 255
    assert by_id[1][2] == 0 and by_id[2][2] == 255
    for c in by_id.values():
        assert all(0 <= x <= 255 for x in c)


def test_sq8_ann_recall_vs_exact_dot(spark, sf_dir):
    """SQ8 is an 8-bit approximation of the exact dot-product ranking —
    on real embeddings its top-10 must overlap the exact top-10 heavily
    (the quantization error budget), not just be in-range."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import (
        _to_double,
        dot,
        sq8_ann_topk,
    )
    from spark_sql_hbase_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    approx = sq8_ann_topk(emb, queries, "vec_id", "embedding", k=10)
    q = queries.select(
        F.col("vec_id").alias("query_id"), _to_double("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), _to_double("embedding").alias("cv")
    )
    w = W.partitionBy("query_id").orderBy(F.col("s").desc(), "neighbor_id")
    exact = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dot(F.col("qv"), F.col("cv")).alias("s"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
    )
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.9, f"SQ8 top-10 recall vs exact dot = {recall}"


def test_embedding_outliers_invariants(spark, sf_dir):
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import embedding_outliers
    from spark_sql_hbase_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    out = embedding_outliers(emb, "vec_id", "embedding").collect()
    assert len(out) == emb.count()  # every row emitted, flag not filter
    zs = [r["z"] for r in out]
    assert abs(sum(zs) / len(zs)) < 0.05  # z-scores center on 0
    for r in out:
        assert r["is_outlier"] == (r["z"] >= 2.0)
    frac = sum(1 for r in out if r["is_outlier"]) / len(out)
    assert frac < 0.15, f"outlier fraction {frac} implausibly high"


def test_tfidf_identical_docs_score_one(spark):
    from spark_sql_hbase_spark.operators.ranking import tfidf_cosine_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "completely different text about spark query engines"),
        (4, "completely different text about spark query engines"),
        (5, "unrelated filler words appear here nowhere shared twice"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in tfidf_cosine_pairs(df, "doc_id", "text", threshold=0.9).collect()
    }
    assert pairs[(1, 2)] == 1.0 and pairs[(3, 4)] == 1.0
    assert set(pairs) == {(1, 2), (3, 4)}  # nothing else clears 0.9


def test_tfidf_max_df_caps_posting_lists(spark):
    """Terms above the df cap must not contribute: two docs sharing ONLY
    a ubiquitous term lose their pair when the cap drops it."""
    from spark_sql_hbase_spark.operators.ranking import tfidf_cosine_pairs

    rows = [
        (1, "common alpha"),
        (2, "common beta"),
        (3, "common gamma"),
        (4, "common delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    uncapped = tfidf_cosine_pairs(df, "doc_id", "text", threshold=0.01)
    assert uncapped.count() == 6  # every pair shares 'common'
    capped = tfidf_cosine_pairs(df, "doc_id", "text", threshold=0.01, max_df=3)
    assert capped.count() == 0


def test_tfidf_window_norms_match_groupby_join(spark, sf_dir):
    """Round-14: the L2 norm moved from a groupBy-norms + re-join (which
    exchanged the weighted relation by id twice and re-evaluated the
    tf→df→weight chain for the second consumer) to ONE windowed sum
    partitioned by id.  Both accumulate the same per-id float64 terms;
    pin the full pair output bit-identical on the real corpus so the
    plan change can never drift the rounded cosine."""
    from pyspark.sql import Window

    from spark_sql_hbase_spark.functions.texthash import tokens
    from spark_sql_hbase_spark.operators.ranking import tfidf_cosine_pairs
    from spark_sql_hbase_spark.queries import table

    docs = table(spark, sf_dir, "documents")
    got = sorted(
        tuple(r)
        for r in tfidf_cosine_pairs(
            docs, "doc_id", "text", threshold=0.3, max_df=100
        ).collect()
    )
    spark.catalog.clearCache()
    # the pre-round-14 groupBy-norms formulation, inlined as the anchor
    tf = (
        docs.select(
            F.col("doc_id").alias("id"), F.explode(tokens(F.col("text"))).alias("term")
        )
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .cache()
    )
    n_docs = tf.agg(F.countDistinct("id").alias("n_docs"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.countDistinct("id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= 100))
    )
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "w",
            F.col("tf") * (F.log((1.0 + F.col("n_docs")) / (1 + F.col("df"))) + 1.0),
        )
    )
    norms = w.groupBy("id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    wn = w.join(norms, "id").select(
        "id", "term", (F.col("w") / F.col("nrm")).alias("wn")
    )
    a = wn.select(F.col("id").alias("id_a"), "term", F.col("wn").alias("wa"))
    b = wn.select(F.col("id").alias("id_b"), "term", F.col("wn").alias("wb"))
    anchor = sorted(
        tuple(r)
        for r in (
            a.join(b, "term")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(
                F.round(F.sum(F.col("wa") * F.col("wb")), 4).alias("cos_sim"),
                F.count(F.lit(1)).alias("n_shared"),
            )
            .filter(F.col("cos_sim") >= 0.3)
        ).collect()
    )
    spark.catalog.clearCache()
    assert got == anchor and len(got) > 0


def test_kmeans_gate_params_populate_all_clusters(spark, sf_dir):
    """The zg38 oracle (kmeans_sql) has no empty-cluster carry — valid
    only while every cluster keeps members at the gate's (k, n_iter).
    Pin that assumption on the gate's own data."""
    from spark_sql_hbase_spark.operators.similarity import kmeans
    from spark_sql_hbase_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    cent = kmeans(emb, k=8, n_iter=3)
    got = {r["cluster_id"] for r in cent.select("cluster_id").distinct().collect()}
    assert got == set(range(8))
    n_rows = cent.count()
    assert n_rows == 8 * 64  # K x dim long-format rows


def test_sq8_codes_long_clamps_out_of_range_arrivals(spark):
    """The streaming ingest encodes arrivals against FROZEN corpus
    bounds — a vector outside the trained range must clamp to the edge
    codes (the FAISS convention), never error or wrap."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import (
        sq8_bounds,
        sq8_codes_long,
    )

    corpus = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0])], "vec_id int, embedding array<double>"
    )
    bounds = sq8_bounds(corpus, "embedding", 2)
    # 1e30 scales past 2^63: the clamp must run BEFORE the int cast or
    # the narrowing wraps the far-out value to a garbage mid-range code
    arrival = spark.createDataFrame(
        [(99, [-5.0, 10.0]), (100, [-1e30, 1e30])],
        "vec_id int, embedding array<double>",
    )
    got = {
        (r["id"], r["dim"]): r["code"]
        for r in sq8_codes_long(arrival, bounds, "vec_id", "embedding").collect()
    }
    assert got == {(99, 1): 0, (99, 2): 255, (100, 1): 0, (100, 2): 255}


def test_embedding_outliers_degenerate_corpus(spark):
    """r11 VERDICT item 5: a constant corpus (all vectors identical →
    distance stddev 0) must yield a DEFINED no-outlier result (z=0,
    is_outlier=false) in BOTH engines — never NULL/Inf z-scores."""
    import duckdb
    import pandas as pd

    from spark_sql_hbase_spark.operators.similarity import (
        embedding_outliers,
        embedding_outliers_sql,
    )

    vec = [1.5, -2.0, 0.25]
    rows = [(i, vec) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = embedding_outliers(df, "vec_id", "embedding").collect()
    assert len(got) == 5
    for r in got:
        assert r["z"] == 0.0 and r["is_outlier"] is False, r

    con = duckdb.connect()
    con.register(
        "const_emb",
        pd.DataFrame({"vec_id": range(5), "embedding": [vec] * 5}),
    )
    sql = embedding_outliers_sql("const_emb", "vec_id", "embedding", len(vec))
    for vid, dist, z, flag in con.execute(sql).fetchall():
        assert z == 0.0 and bool(flag) is False, (vid, dist, z, flag)
    spark.catalog.clearCache()


def test_shard_plan_balance_bound(spark, sf_dir):
    """LPT round robin: per-shard token totals differ by at most the
    max document size times the number of round-robin cycles' slack —
    in practice the spread must be far below one shard's total; and
    every doc is assigned exactly once."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.functions.texthash import tokens
    from spark_sql_hbase_spark.operators.packing import shard_plan
    from spark_sql_hbase_spark.queries import table

    docs = table(spark, sf_dir, "documents")
    out = shard_plan(docs, "doc_id", "text", 8).collect()
    assert {r["shard_id"] for r in out} == set(range(8))
    assert sum(r["n_docs"] for r in out) == docs.count()
    totals = [r["tok_total"] for r in out]
    max_doc = docs.select(F.max(F.size(tokens(F.col("text"))))).first()[0]
    assert max(totals) - min(totals) <= max_doc, (totals, max_doc)


def test_sq8_roundtrip_error_bound(spark, sf_dir):
    """Quantize→decode must land within half a bucket of the original
    for every in-range value: |x - decode(encode(x))| <= (hi-lo)/512."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import (
        _to_double,
        sq8_bounds,
        sq8_decode,
        sq8_encode,
    )
    from spark_sql_hbase_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    bounds = sq8_bounds(emb, "embedding", 64)
    code = sq8_encode(F.col("embedding"), F.col("lo"), F.col("hi"))
    err = F.zip_with(
        F.zip_with(
            _to_double(F.col("embedding")),
            sq8_decode(code, F.col("lo"), F.col("hi")),
            lambda x, r: F.abs(x - r),
        ),
        F.zip_with(F.col("lo"), F.col("hi"), lambda l, h: (h - l) / 512.0),
        # strict half-bucket bound with a float-arithmetic epsilon
        lambda e, b: (e <= b + F.lit(1e-12)).cast("int"),
    )
    bad = (
        emb.crossJoin(F.broadcast(bounds))
        .select(F.aggregate(err, F.lit(0), lambda a, x: a + x).alias("ok_dims"))
        .filter(F.col("ok_dims") < 64)
        .count()
    )
    assert bad == 0


def test_dup_chain_roots_stay_in_their_component(spark, sf_dir):
    """zg41 cross-check vs the iterative operator: a doc's recursive
    chain root must live in the SAME connected component as the doc —
    the functional-parent chain is a spanning substructure of the
    near-dup graph, never an edge out of it."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators import dedup, graph
    from spark_sql_hbase_spark.queries import load_all, table

    docs = table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_join(docs, "doc_id", "text", threshold=0.6, n=3)
    comp = graph.connected_components(pairs.select("id_a", "id_b"))
    chains = load_all()["q32_dup_chain_recursion"].fn(
        spark, sf_dir
    )
    mismatched = (
        chains.join(comp.withColumnRenamed("comp", "c_doc"), chains.doc_id == comp.id)
        .drop("id")
        .join(
            comp.withColumnRenamed("comp", "c_root").withColumnRenamed("id", "rid"),
            F.col("root_id") == F.col("rid"),
        )
        .filter(F.col("c_doc") != F.col("c_root"))
        .count()
    )
    assert mismatched == 0


def test_quality_psi_invariants(spark, sf_dir):
    """PSI is an f-divergence: every term (p-q)·ln(p/q) has matching
    signs, so per-stream PSI must be >= 0; and a deliberately skewed
    stream (only the corpus's shortest docs) must drift beyond every
    natural source."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.text import quality_psi
    from spark_sql_hbase_spark.queries import table

    docs = table(spark, sf_dir, "documents")
    out = quality_psi(docs, "source", "doc_id", "text").collect()
    assert len(out) == docs.select("source").distinct().count()
    assert all(r["psi"] >= 0 for r in out), out
    nat_max = max(r["psi"] for r in out)

    cut = docs.approxQuantile("n_chars", [0.1], 0.0)[0]
    skewed = docs.withColumn(
        "source",
        F.when(F.col("n_chars") <= cut, F.lit("___skew")).otherwise(
            F.col("source")
        ),
    )
    out2 = {r["stream"]: r["psi"] for r in
            quality_psi(skewed, "source", "doc_id", "text").collect()}
    assert out2["___skew"] > nat_max, (out2["___skew"], nat_max)


def test_script_profile_semantics(spark):
    """Dominant-script precedence, mixed flag, and the none case on
    hand-built rows."""
    from spark_sql_hbase_spark.operators.text import script_profile

    rows = [
        (1, "hello world"),            # pure latin
        (2, "中文数据"),                 # pure han
        (3, "Привет мир"),             # pure cyrillic
        (4, "hello 中文"),              # mixed, latin >= han -> latin
        (5, "中文 Мир"),                # 2 han < 3 cyrillic -> cyrillic
        (6, "12345 !!!"),              # no letters of the three -> none
        (7, "中文 Ми"),                 # 2 han == 2 cyrillic -> han tiebreak
    ]
    df = spark.createDataFrame(rows, "doc_id int, t string")
    got = {r["doc_id"]: r for r in script_profile(df, "doc_id", "t").collect()}
    assert got[1]["dominant"] == "latin" and not got[1]["is_mixed"]
    assert got[2]["dominant"] == "han" and got[2]["n_han"] == 4
    assert got[3]["dominant"] == "cyrillic" and got[3]["n_cyrillic"] == 9
    assert got[4]["dominant"] == "latin" and got[4]["is_mixed"]
    assert got[5]["dominant"] == "cyrillic" and got[5]["is_mixed"]
    assert got[6]["dominant"] == "none" and got[6]["n_digit"] == 5
    assert got[7]["dominant"] == "han"  # the >= tiebreak arm
    assert got[6]["latin_ratio"] == 0.0


def test_ivfsq_recall_tracks_ivf_flat(spark, sf_dir):
    """At equal cells/nprobe, IVF-SQ8's only extra loss vs IVF-flat is
    8-bit corpus quantization — its top-5 must overlap the flat-scoring
    variant heavily (the asymmetric-scoring error budget)."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import (
        _to_double,
        assign_cells,
        ivfsq_ann_topk,
        kmeans_centroids,
    )
    from spark_sql_hbase_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    cent = kmeans_centroids(emb, k=4, n_iter=2)
    queries = emb.filter(F.col("vec_id") < 8)
    sq = ivfsq_ann_topk(emb, queries, cent, k=5, nprobe=2)
    # flat scoring restricted to the SAME probed cells: exact dot over
    # the float vectors (reuse the operator with levels high enough that
    # quantization is near-lossless is NOT the same contract — compute
    # the flat reference directly)
    from pyspark.sql import Window as W

    from spark_sql_hbase_spark.operators.similarity import (
        _centroid_relation,
        _probe_cells,
        dot,
    )

    cent_rel = _centroid_relation(spark, cent)
    q = queries.select(
        F.col("vec_id").alias("query_id"), _to_double("embedding").alias("__qv")
    )
    probes = _probe_cells(q, cent_rel, 2).select(
        "query_id", F.col("__qv").alias("qv"), "cell"
    )
    c = assign_cells(emb, cent, "vec_id", "embedding").select(
        F.col("vec_id").alias("neighbor_id"), "cell",
        _to_double("embedding").alias("cv"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("s").desc(), "neighbor_id")
    flat = (
        c.join(F.broadcast(probes), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dot(F.col("qv"), F.col("cv")).alias("s"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )
    a = {(r["query_id"], r["neighbor_id"]) for r in sq.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in flat.collect()}
    recall = len(a & e) / len(e)
    assert recall >= 0.9, f"IVF-SQ8 top-5 recall vs IVF-flat = {recall}"


def test_epoch_shuffle_reproducible_and_complete(spark, sf_dir):
    """Epoch shuffle contract: same epoch replays the same order
    bit-for-bit; a different epoch produces a different order; every
    document appears exactly once with dense per-shard positions."""
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.packing import epoch_shuffle_plan
    from spark_sql_hbase_spark.queries import table

    docs = table(spark, sf_dir, "documents")
    a = sorted(map(tuple, epoch_shuffle_plan(docs, "doc_id", 8, 2).collect()))
    b = sorted(map(tuple, epoch_shuffle_plan(docs, "doc_id", 8, 2).collect()))
    assert a == b
    c = sorted(map(tuple, epoch_shuffle_plan(docs, "doc_id", 8, 3).collect()))
    assert a != c
    n = docs.count()
    assert len(a) == n and len({r[0] for r in a}) == n
    per_shard = {}
    for _, shard, pos in a:
        per_shard.setdefault(shard, []).append(pos)
    for shard, poss in per_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard


def test_vocab_kl_nonnegative_and_drift_sensitive(spark):
    """KL is an f-divergence: every per-stream value must be >= 0 (up
    to the 4dp rounding); a stream with disjoint vocabulary must score
    strictly higher than a stream sampled from the corpus wording."""
    from spark_sql_hbase_spark.operators.text import vocab_kl

    base = [(f"like_{i}", "alpha beta gamma delta epsilon", "like")
            for i in range(20)]
    drift = [(f"drift_{i}", "zzq qqz zqz qzz zzz", "drift") for i in range(20)]
    df = spark.createDataFrame(
        base + drift, "doc_id string, text string, source string"
    )
    got = {r["stream"]: r["kl"] for r in vocab_kl(df, "source", "text", 4).collect()}
    assert all(v >= -1e-4 for v in got.values()), got
    assert got["drift"] > got["like"], got
    spark.catalog.clearCache()


def test_vocab_kl_narrow_corpus_stays_nonnegative(spark):
    """r12 review fix: a corpus with FEWER distinct terms than top_v
    must still yield proper distributions (Laplace denominator over the
    ACTUAL bucket count) — the old top_v-based denominator drove "KL"
    strongly negative for undrifted streams on narrow vocabularies."""
    from spark_sql_hbase_spark.operators.text import vocab_kl

    rows = [(f"a_{i}", "alpha beta gamma", "small") for i in range(3)]
    rows += [(f"b_{i}", "alpha beta gamma " * 40, "big") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id string, text string, source string")
    got = {r["stream"]: r["kl"] for r in vocab_kl(df, "source", "text", 100).collect()}
    assert all(v >= -1e-4 for v in got.values()), got
    spark.catalog.clearCache()


def test_sq8_ann_empty_corpus_returns_empty(spark):
    """r12 review fix: SQ8 ANN over an empty corpus (with dim given)
    must return an empty result, not crash re-lighting NULL bounds; an
    empty corpus WITHOUT dim refuses with a clear message."""
    import pytest as _pytest

    from spark_sql_hbase_spark.operators.similarity import sq8_ann_topk

    empty = spark.createDataFrame([], "vec_id int, embedding array<double>")
    q = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id int, embedding array<double>"
    )
    assert sq8_ann_topk(empty, q, "vec_id", "embedding", k=3, dim=2).count() == 0
    with _pytest.raises(ValueError, match="no non-NULL vectors and no dim"):
        sq8_ann_topk(empty, q, "vec_id", "embedding", k=3)
    # ADVICE r12: a NULL vector in the probed row must raise the same
    # descriptive message, not TypeError('NoneType has no len')
    nullvec = spark.createDataFrame(
        [(1, None)], "vec_id int, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="no non-NULL vectors and no dim"):
        sq8_ann_topk(nullvec, q, "vec_id", "embedding", k=3)


def test_lsh_plan_s_curve_laws():
    """lsh_plan: the split exhausts the signature (b·r = n_perm); the
    midpoint moves RIGHT as the target threshold rises (more rows per
    band); the S-curve is increasing in s; degenerate inputs refuse."""
    import pytest as _pytest

    from spark_sql_hbase_spark.operators.dedup import (
        lsh_collision_prob,
        lsh_plan,
    )

    prev_rows = 0
    for t in (0.2, 0.4, 0.6, 0.8, 0.95):
        plan = lsh_plan(128, t)
        assert plan["bands"] * plan["rows"] == 128
        assert plan["rows"] >= prev_rows
        prev_rows = plan["rows"]
        # the curve must separate below/above the target
        below = lsh_collision_prob(max(t - 0.15, 0.01), plan["bands"], plan["rows"])
        above = lsh_collision_prob(min(t + 0.15, 0.99), plan["bands"], plan["rows"])
        assert above > below
    with _pytest.raises(ValueError):
        lsh_plan(0, 0.5)
    with _pytest.raises(ValueError):
        lsh_plan(128, 1.0)


def test_sq8_rerank_recall_dominates_plain_sq8(spark, sf_dir):
    """SQ8 exact re-ranking must buy back quantization recall: top-5 of
    a 15-candidate shortlist against the exact inner-product ground
    truth is at least as good as plain SQ8 top-5, and the re-ranked
    dot values ARE the exact inner products (numpy spot check)."""
    import numpy as np
    from pyspark.sql import functions as F

    from spark_sql_hbase_spark.operators.similarity import (
        sq8_ann_topk,
        sq8_rerank_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {
        int(r["vec_id"]): np.array(r["embedding"], np.float64)
        for r in emb.collect()
    }
    queries = emb.filter(F.col("vec_id") < 6)
    plain = sq8_ann_topk(emb, queries, "vec_id", "embedding", k=5, dim=64)
    rr = sq8_rerank_topk(
        emb, queries, "vec_id", "embedding", k=5, rerank=15, dim=64
    )

    def topk_sets(df):
        out: dict = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = {}
    for q in range(6):
        dots = sorted(
            ((float(vecs[q] @ v), n) for n, v in vecs.items() if n != q),
            key=lambda t: (-round(t[0], 6), t[1]),
        )
        exact[q] = {n for _, n in dots[:5]}
    plain_sets, rr_sets = topk_sets(plain), topk_sets(rr)
    plain_recall = sum(len(plain_sets[q] & exact[q]) for q in exact) / 30
    rr_recall = sum(len(rr_sets[q] & exact[q]) for q in exact) / 30
    assert rr_recall >= plain_recall, (rr_recall, plain_recall)
    for r in rr.collect():
        want = float(vecs[r["query_id"]] @ vecs[r["neighbor_id"]])
        assert abs(r["dot"] - want) < 1e-4, (r, want)


def test_epoch_shuffle_refuses_nonpositive_shards(spark):
    """r12 review fix: n_shards=0 would produce a valid-looking manifest
    with one giant NULL shard under non-ANSI % 0 — refuse loudly."""
    import pytest as _pytest

    from spark_sql_hbase_spark.operators.packing import epoch_shuffle_plan

    df = spark.createDataFrame([(1,)], "doc_id int")
    with _pytest.raises(ValueError, match="n_shards"):
        epoch_shuffle_plan(df, "doc_id", 0, 1)


def test_managed_cache_keys_by_session(spark):
    """r12 VERDICT watch item 2: managed_cache keys by (applicationId,
    operator), so a second SparkSession cannot unpersist a live relation
    out from under the first, and a stopped session's entries are swept
    instead of pinned alive.  A single JVM hosts one SparkContext, so
    the foreign sessions are stubs carrying the two behaviors that
    matter: a stable foreign applicationId, and a dead (raising)
    session."""
    from spark_sql_hbase_spark.operators import caching
    from spark_sql_hbase_spark.operators.caching import managed_cache

    from types import SimpleNamespace

    class _ForeignDF:
        """Stands in for another LIVE session's cached relation."""

        sparkSession = SimpleNamespace(
            sparkContext=SimpleNamespace(applicationId="app-foreign-live")
        )
        unpersisted = False

        def unpersist(self, blocking=False):
            self.unpersisted = True

    class _DeadDF:
        """Stands in for a STOPPED session's leftover entry."""

        unpersisted = False

        @property
        def sparkSession(self):
            raise RuntimeError("SparkContext stopped")

        def unpersist(self, blocking=False):
            self.unpersisted = True

    foreign, dead = _ForeignDF(), _DeadDF()
    app = spark.sparkContext.applicationId
    try:
        caching._MANAGED[("app-foreign-live", 999, "op")] = foreign
        caching._MANAGED[("app-gone", 998, "other_op")] = dead
        caching._SEEN_APPS.discard(app)  # force the new-id sweep
        df = spark.range(5)
        out = managed_cache(df, "op")
        # the live foreign entry under the SAME operator key survives —
        # per-session keying, no cross-session eviction
        assert caching._MANAGED[("app-foreign-live", 999, "op")] is foreign
        assert not foreign.unpersisted
        # this session's entry landed under its own (app, session) slot
        assert caching._MANAGED[(app, id(spark), "op")] is out
        # the dead session's entry was swept and released
        assert ("app-gone", 998, "other_op") not in caching._MANAGED
        assert dead.unpersisted
        # the sweep runs only on a NEVER-SEEN applicationId (r13
        # ADVICE): a dead entry planted after the id was observed
        # survives subsequent calls under the same id
        dead2 = _DeadDF()
        caching._MANAGED[("app-gone-2", 997, "op")] = dead2
        managed_cache(spark.range(4), "op_other")
        assert ("app-gone-2", 997, "op") in caching._MANAGED
        assert not dead2.unpersisted
        # a same-JVM newSession() sibling keys its OWN slot (r13
        # ADVICE): registering under the sibling leaves this session's
        # slot in place
        sib = spark.newSession()
        sib_out = managed_cache(sib.range(7), "op")
        assert caching._MANAGED[(app, id(sib), "op")] is sib_out
        assert caching._MANAGED[(app, id(spark), "op")] is out
        # same-session re-entry still evicts its own previous holder
        out2 = managed_cache(spark.range(6), "op")
        assert caching._MANAGED[(app, id(spark), "op")] is out2
        assert not out.is_cached
    finally:
        caching._MANAGED.pop(("app-foreign-live", 999, "op"), None)
        caching._MANAGED.pop(("app-gone-2", 997, "op"), None)
        from spark_sql_hbase_spark.operators.caching import clear_managed_caches

        clear_managed_caches()


def test_managed_cache_reentry_with_equivalent_plan_stays_cached(spark):
    """r13 review fix: CacheManager matches by PLAN EQUIVALENCE, so on
    the normal re-entry (same operator over the same inputs) the new
    df.cache() is a no-op against the previous entry — the previous
    holder must be unpersisted BEFORE caching, or the unpersist-after
    drops the shared entry and the returned relation is silently
    uncached (every consumer re-runs the corpus pass)."""
    from spark_sql_hbase_spark.operators.caching import (
        clear_managed_caches,
        managed_cache,
    )

    try:
        for i in range(3):
            # identical plan every time — the equivalence case
            out = managed_cache(
                spark.range(100).selectExpr("id", "id * 2 AS d"), "op_eq"
            )
            out.count()
            assert out.is_cached, f"re-entry {i}: managed relation not cached"
    finally:
        clear_managed_caches()


def test_shard_assignments_cache_survives_interleaved_invocations(spark, sf_dir):
    """r12 review fix (r13: persist+weakref → eager localCheckpoint): a
    still-held earlier result must stay CORRECT after a second
    invocation — lineage truncation makes range-boundary re-sampling
    against the baked-in offsets impossible."""
    from spark_sql_hbase_spark.operators.packing import shard_assignments
    from spark_sql_hbase_spark.queries import table

    docs = table(spark, sf_dir, "documents")
    a = shard_assignments(docs, "doc_id", "text", 8)
    expect = sorted(map(tuple, a.collect()))
    b = shard_assignments(docs.limit(40), "doc_id", "text", 4)
    b.collect()
    # a's plan re-executes against its still-persisted coordination
    # cache: identical assignments, every rank consistent
    assert sorted(map(tuple, a.collect())) == expect
    spark.catalog.clearCache()


def test_shard_assignments_fluent_chain_survives_gc(spark, sf_dir):
    """ADVICE r13 (medium): the docstring's primary use case — a writer
    joining the map back on id in a fluent chain that DROPS the
    assignment result — must stay correct even after the intermediate
    is garbage-collected mid-chain.  Under the old persist()+weakref
    release, GC of the intermediate unpersisted the coordination cache
    and the derived plan recomputed repartitionByRange with freshly
    sampled boundaries against the baked-in offsets (silently wrong
    ranks); the eager localCheckpoint makes re-sampling impossible."""
    import gc

    from spark_sql_hbase_spark.operators.packing import shard_assignments
    from spark_sql_hbase_spark.queries import table

    docs = table(spark, sf_dir, "documents").limit(200)
    n_docs = docs.count()
    # fluent chain: the shard_assignments result is never bound to a name
    chained = shard_assignments(docs, "doc_id", "text", 8).join(
        docs.selectExpr("doc_id AS id", "source"), "id"
    )
    gc.collect()  # collect the dropped intermediate before materializing
    rows = chained.collect()
    assert len(rows) == n_docs
    # round-robin on a correct dense rank ⇒ per-shard doc counts differ
    # by at most one; duplicated/missing ranks (the corruption mode)
    # break this immediately
    per_shard = {}
    for r in rows:
        per_shard[r["shard_id"]] = per_shard.get(r["shard_id"], 0) + 1
    assert max(per_shard.values()) - min(per_shard.values()) <= 1, per_shard
    assert sorted(per_shard) == list(range(8)), per_shard


def test_rrf_fuse_laws(spark):
    """rrf_fuse: score is exactly the rounded sum of reciprocal-rank
    terms over the lists holding the doc; absence contributes nothing
    (n_lists counts presence); ranks are dense per query with the
    documented tie-break; non-positive k refuses."""
    import pytest as _pytest

    from spark_sql_hbase_spark.operators.ranking import rrf_fuse

    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (1, 20, 1)],
        "query_id int, doc_id int, rank int",
    )
    sem = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2), (1, 20, 2)],
        "query_id int, doc_id int, rank int",
    )
    out = {
        (r["query_id"], r["doc_id"]): r
        for r in rrf_fuse([lex, sem], k=60).collect()
    }
    # both-lists doc: two terms, n_lists=2
    assert out[(0, 11)]["n_lists"] == 2
    assert out[(0, 11)]["rrf"] == round(1 / 62 + 1 / 61, 6)
    # single-list docs: one term each
    assert out[(0, 10)]["n_lists"] == 1
    assert out[(0, 10)]["rrf"] == round(1 / 61, 6)
    assert out[(0, 13)]["rrf"] == round(1 / 62, 6)
    assert out[(1, 20)]["rrf"] == round(1 / 61 + 1 / 62, 6)
    # the both-lists doc wins query 0; ranks are dense 1..N per query
    q0 = sorted(
        (r["rank"], r["doc_id"]) for r in out.values() if r["query_id"] == 0
    )
    assert q0[0] == (1, 11)
    assert [r for r, _ in q0] == [1, 2, 3, 4]
    # topk keeps the fused head
    top1 = rrf_fuse([lex, sem], k=60, topk=1).collect()
    assert sorted((r["query_id"], r["doc_id"]) for r in top1) == [
        (0, 11),
        (1, 20),
    ]
    with _pytest.raises(ValueError, match="k must be positive"):
        rrf_fuse([lex], k=0)
    with _pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])


def test_doc_repetition_fractions_exact(spark):
    """doc_repetition: hand-computed Gopher fractions on a constructed
    doc — dup_line_frac counts beyond-first line occurrences, the char
    fraction weights them by length, top-bigram is max(cnt*len) over
    total bigram mass; a doc with no qualifying line is excluded."""
    from spark_sql_hbase_spark.operators.text import doc_repetition

    docs = spark.createDataFrame(
        [
            (1, "a b c. a b c. x y z w."),
            (2, "hi."),  # no line with >= 3 words -> excluded
        ],
        "doc_id int, text string",
    )
    rows = {r["id"]: r for r in doc_repetition(docs, "doc_id", "text").collect()}
    assert set(rows) == {1}
    r = rows[1]
    # lines: ["a b c", "a b c", "x y z w"] -> 1 of 3 is a repeat
    assert r["n_lines"] == 3
    assert r["dup_line_frac"] == 1 / 3
    assert r["dup_line_char_frac"] == 5 / 17  # 5 repeated chars of 17
    # bigrams (9 x 3 chars): "a b" and "b c" twice -> max mass 6 of 27
    assert r["top_bigram_char_frac"] == 6 / 27


def test_rrf_fuse_collapses_within_list_duplicates(spark):
    """r13 review fix: a document appearing twice within ONE list (a
    list concatenated from per-shard top-k results) collapses to its
    best rank in that list — one term, n_lists=1 — instead of double
    counting."""
    from spark_sql_hbase_spark.operators.ranking import rrf_fuse

    shard_concat = spark.createDataFrame(
        [(0, 7, 3), (0, 7, 15), (0, 8, 1)],
        "query_id int, doc_id int, rank int",
    )
    other = spark.createDataFrame(
        [(0, 9, 1), (0, 9, 2)], "query_id int, doc_id int, rank int"
    )
    out = {
        (r["query_id"], r["doc_id"]): r
        for r in rrf_fuse([shard_concat, other], k=60).collect()
    }
    assert out[(0, 7)]["n_lists"] == 1
    assert out[(0, 7)]["rrf"] == round(1 / 63, 6)  # best rank only
    assert out[(0, 9)]["n_lists"] == 1
    assert out[(0, 9)]["rrf"] == round(1 / 61, 6)


def test_doc_ngram_tf_bigram_specialization(spark):
    """r13 VERDICT item 6: doc_bigram_tf IS doc_ngram_tf(n=2) under the
    historical column names — one construction law, no drift."""
    from spark_sql_hbase_spark.operators.ranking import (
        doc_bigram_tf,
        doc_ngram_tf,
    )

    docs = spark.createDataFrame(
        [(1, "a b c a b"), (2, "x"), (3, ""), (4, "p q")],
        "id int, text string",
    )
    via_big = sorted(map(tuple, doc_bigram_tf(docs, "id", "text").collect()))
    via_gen = sorted(
        map(tuple, doc_ngram_tf(docs, "id", "text", 2).collect())
    )
    assert via_big == via_gen
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n-gram order"):
        doc_ngram_tf(docs, "id", "text", 1)


def test_doc_repetition_gopher_laws(spark):
    """Paragraph and n-gram repetition invariants on a hand-computable
    doc: fractions are exact integer ratios in [0, 1]; a doc with
    fewer than n tokens reports 0.0 for the n-gram column; newline
    RUNS delimit one boundary (no empty paragraphs)."""
    from spark_sql_hbase_spark.operators.text import doc_repetition_gopher

    docs = spark.createDataFrame(
        [
            # 3 paragraphs, one duplicated: 'a b' x2 (3 chars each), 'c d'
            (1, "a b\nc d\n\na b"),
            # 2 tokens only: no 3-gram, no 4-gram
            (2, "hi there"),
        ],
        "id int, text string",
    )
    got = {
        r["id"]: r
        for r in doc_repetition_gopher(
            docs, "id", "text", min_para_tokens=1, ns=(3, 4)
        ).collect()
    }
    r1 = got[1]
    assert r1["n_paras"] == 3
    assert r1["dup_para_frac"] == 1.0 / 3.0
    assert r1["dup_para_char_frac"] == 3.0 / 9.0
    # 'a b\nc d\n\na b' tokens: a b c d a b -> 3-grams each unique (4)
    assert 0.0 <= r1["top_3gram_char_frac"] <= 1.0
    r2 = got[2]
    assert r2["n_paras"] == 1 and r2["dup_para_frac"] == 0.0
    assert r2["top_3gram_char_frac"] == 0.0
    assert r2["top_4gram_char_frac"] == 0.0


# -- round-14 regex-native text parity pins ---------------------------------
_EDGE_TEXTS = [
    "",
    " ",
    "\t\n  \r ",
    "plain words here",
    "  leading and trailing  ",
    "\ttab\tseparated\ttokens\n",
    "punct,marks;every-where!",
    "UPPER lower MiXeD 123 a1b2",
    "the the the and of to in is that it for",
    "les the der el y est---que.que,que",
    "unicode café naïve 北京 text",
    "a",
    "7",
    "...!!!...",
]


def test_ws_token_count_regex_matches_filter(spark, sf_dir):
    """The regexp_count('\\S+') single-pass form must equal
    ws_token_count's split+filter form on the real corpus AND on edge
    strings (empty, whitespace-only, tab/newline separators,
    leading/trailing whitespace).  The split+filter form stays the
    production one — it measured ~14% faster (round-14 negative result,
    see the operator docstring) — but the law is pinned so the regex
    twin stays available."""
    from pyspark.sql import functions as F2

    from spark_sql_hbase_spark.operators.text import ws_token_count
    from spark_sql_hbase_spark.queries import table as qtable

    def regex_form(c):
        return F2.regexp_count(F2.col(c), F2.lit("\\S+")).cast("long")

    docs = qtable(spark, sf_dir, "documents").select("text")
    edge = spark.createDataFrame([(t,) for t in _EDGE_TEXTS], "text string")
    for frame in (docs, edge):
        rows = frame.select(
            regex_form("text").alias("new"), ws_token_count("text").alias("old")
        ).collect()
        assert rows and all(r["new"] == r["old"] for r in rows), [
            (r["new"], r["old"]) for r in rows if r["new"] != r["old"]
        ][:5]


def test_token_count_regex_matches_tokens(spark, sf_dir):
    """token_count / token_chars (one regexp_count pass) must equal
    size(tokens(text)) / the interpreted per-token length fold on the
    real corpus and edge strings."""
    from pyspark.sql import functions as F2

    from spark_sql_hbase_spark.functions.texthash import (
        token_chars,
        token_count,
        tokens,
    )
    from spark_sql_hbase_spark.queries import table as qtable

    docs = qtable(spark, sf_dir, "documents").select("text")
    edge = spark.createDataFrame([(t,) for t in _EDGE_TEXTS], "text string")
    for frame in (docs, edge):
        rows = frame.select(
            token_count("text").alias("nc"),
            F2.size(tokens(F2.col("text"))).alias("nt"),
            token_chars("text").alias("cc"),
            F2.aggregate(
                tokens(F2.col("text")), F2.lit(0), lambda a, x: a + F2.length(x)
            ).alias("ct"),
        ).collect()
        assert rows and all(
            r["nc"] == r["nt"] and r["cc"] == r["ct"] for r in rows
        ), [tuple(r) for r in rows if r["nc"] != r["nt"] or r["cc"] != r["ct"]][:5]


def test_stopword_count_regex_matches_hof(spark, sf_dir):
    """stopword_count's boundary-anchored alternation regex must equal
    the old interpreted filter-over-tokens form for EVERY language on
    the real corpus and edge strings (incl. overlapping-prefix stopwords
    like fr 'le'/'les')."""
    from pyspark.sql import functions as F2

    from spark_sql_hbase_spark.functions.texthash import (
        STOPWORDS,
        stopword_count,
        tokens,
    )
    from spark_sql_hbase_spark.queries import table as qtable

    def old_form(c, lang):
        words = F2.array(*[F2.lit(w) for w in STOPWORDS[lang]])
        return F2.size(
            F2.filter(tokens(F2.col(c)), lambda x: F2.array_contains(words, x))
        )

    docs = qtable(spark, sf_dir, "documents").select("text")
    edge = spark.createDataFrame([(t,) for t in _EDGE_TEXTS], "text string")
    for frame in (docs, edge):
        rows = frame.select(
            *[stopword_count(F2.col("text"), lang).alias(f"n_{lang}")
              for lang in STOPWORDS],
            *[old_form("text", lang).alias(f"o_{lang}") for lang in STOPWORDS],
        ).collect()
        for lang in STOPWORDS:
            assert rows and all(r[f"n_{lang}"] == r[f"o_{lang}"] for r in rows), lang


def test_quality_expr_regex_matches_token_form(spark, sf_dir):
    """quality_expr (all-regexp_count, round 14) must produce the
    BIT-IDENTICAL double as the old token-array formulation — same exact
    integers into the same single IEEE division."""
    from pyspark.sql import functions as F2

    from spark_sql_hbase_spark.functions.texthash import STOPWORDS, tokens
    from spark_sql_hbase_spark.operators.text import quality_expr
    from spark_sql_hbase_spark.queries import table as qtable

    def old_form(text_col):
        tok = F2.col("__tok")
        n_tok = F2.size(tok)
        n_punct = F2.regexp_count(F2.col(text_col), F2.lit("[^A-Za-z0-9\\s]"))
        words = F2.array(*[F2.lit(w) for w in STOPWORDS["en"]])
        sw = F2.size(F2.filter(tok, lambda x: F2.array_contains(words, x)))
        d = F2.greatest(n_tok, F2.lit(1))
        num = (
            F2.lit(2) * d * F2.least(n_tok, F2.lit(100))
            - F2.lit(100) * F2.least(n_punct, d)
            + F2.lit(100) * sw
        )
        return num.cast("double") / (F2.lit(200) * d)

    docs = qtable(spark, sf_dir, "documents").select("text")
    edge = spark.createDataFrame([(t,) for t in _EDGE_TEXTS], "text string")
    for frame in (docs, edge):
        rows = (
            frame.select(
                "text", F2.explode(F2.array(tokens(F2.col("text")))).alias("__tok")
            )
            .select(
                quality_expr("text").alias("new"), old_form("text").alias("old")
            )
            .collect()
        )
        assert rows and all(r["new"] == r["old"] for r in rows), [
            (r["new"], r["old"]) for r in rows if r["new"] != r["old"]
        ][:5]


def test_bm25_regex_matches_hof(spark, sf_dir):
    """bm25_scores (regex tf counting + row-local posexplode, round 14)
    must produce the identical (id, score) map as the old interpreted
    filter + explode + count-aggregate formulation, including duplicate
    query terms (both collapse) and terms absent from the corpus."""
    from pyspark.sql import functions as F2

    from spark_sql_hbase_spark.functions.texthash import tokens
    from spark_sql_hbase_spark.operators.ranking import bm25_scores
    from spark_sql_hbase_spark.queries import table as qtable

    def old_bm25(docs, id_col, text_col, query_terms, k1=1.2, b=0.75, round_to=4):
        q = F2.array(*[F2.lit(t) for t in query_terms])
        toks = docs.select(
            F2.col(id_col).alias("id"), tokens(F2.col(text_col)).alias("tok")
        )
        per_doc_all = toks.select(
            "id",
            F2.size("tok").alias("dl"),
            F2.filter("tok", lambda t: F2.array_contains(q, t)).alias("qtok"),
        ).cache()
        per_doc = per_doc_all.filter(F2.size("qtok") > 0)
        tf = per_doc.select(
            "id", "dl", F2.explode("qtok").alias("term")
        ).groupBy("id", "dl", "term").agg(F2.count(F2.lit(1)).alias("tf"))
        stats = per_doc_all.agg(
            F2.count(F2.lit(1)).alias("n_docs"), F2.sum("dl").alias("total_len")
        )
        df_t = tf.groupBy("term").agg(F2.countDistinct("id").alias("df"))
        scored = (
            tf.join(F2.broadcast(df_t), "term")
            .crossJoin(F2.broadcast(stats))
            .withColumn("avgdl", F2.col("total_len") / F2.col("n_docs"))
            .withColumn(
                "idf",
                F2.log(
                    (F2.col("n_docs") - F2.col("df") + 0.5) / (F2.col("df") + 0.5)
                    + 1.0
                ),
            )
            .withColumn(
                "part",
                F2.col("idf")
                * (F2.col("tf") * (k1 + 1))
                / (F2.col("tf") + k1 * (1 - b + b * F2.col("dl") / F2.col("avgdl"))),
            )
        )
        out = scored.groupBy("id").agg(
            F2.round(F2.sum("part"), round_to).alias("score")
        )
        per_doc_all.unpersist()
        return out

    docs = qtable(spark, sf_dir, "documents")
    for terms in (
        ["stream", "window", "checkpoint"],
        ["stream", "stream", "the", "nosuchtermxyz"],
    ):
        got = {
            r["id"]: r["score"]
            for r in bm25_scores(docs, "doc_id", "text", terms).collect()
        }
        want = {
            r["id"]: r["score"]
            for r in old_bm25(docs, "doc_id", "text", terms).collect()
        }
        assert got == want and len(got) > 0, (len(got), len(want))


@pytest.mark.slow
def test_doc_feat_tf_arrow_matches_jvm(spark, sf_dir):
    """The Arrow hashed-unigram counter (md5 once per distinct token,
    numpy group-by, no exchange) must produce the identical
    (id, dl, feat, tf) relation as the explode + md5-per-token +
    groupBy formulation on the real corpus."""
    from spark_sql_hbase_spark.operators.ranking import (
        doc_feat_tf,
        doc_feat_tf_jvm,
    )
    from spark_sql_hbase_spark.queries import table as qtable

    docs = qtable(spark, sf_dir, "documents")
    got = sorted(
        map(tuple, doc_feat_tf(docs, "doc_id", "text", 1024).collect())
    )
    want = sorted(
        map(tuple, doc_feat_tf_jvm(docs, "doc_id", "text", 1024).collect())
    )
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_cms_cand_arrow_matches_jvm(spark, sf_dir):
    """The Arrow CMS partial counter must combine to the identical exact
    per-(term, row, bucket) counts as the explode form of cms_placed —
    the shared hash law the streaming sketch also depends on."""
    from pyspark.sql import functions as F2

    from spark_sql_hbase_spark.operators.ranking import (
        cms_cand_partials,
        cms_placed,
    )
    from spark_sql_hbase_spark.queries import table as qtable

    docs = qtable(spark, sf_dir, "documents")
    got = sorted(
        map(
            tuple,
            cms_cand_partials(docs, "text", 3, 512)
            .groupBy("term", "row", "bucket")
            .agg(F2.sum("tc").alias("tc"))
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            cms_placed(docs, "text", 3, 512)
            .groupBy("term", "row", "bucket")
            .agg(F2.count(F2.lit(1)).alias("tc"))
            .collect(),
        )
    )
    assert got == want and len(got) > 0
