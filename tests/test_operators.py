import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from semantic_search_system_spark import spec
from semantic_search_system_spark.functions.scoring import minmax_normalize_100
from semantic_search_system_spark.functions.text import clean_text_col
from semantic_search_system_spark.operators.components import connected_components
from semantic_search_system_spark.operators.embedding import embed_batch
from semantic_search_system_spark.operators.enrichment import enrich_arrow, enrich_content
from semantic_search_system_spark.operators.extraction import assemble_content, entities_native
from semantic_search_system_spark.operators.linking import candidate_edges

from conftest import SF_SMALL


def test_extract_batch_matches_spec():
    import pyarrow as pa

    texts = ["the spark table spark join the table spark", "", "a b a b a"]
    out = enrich_arrow(pa.array(texts, pa.string())).to_pylist()
    for text, row in zip(texts, out):
        ref = spec.extract_doc(text)
        assert [e["text"] for e in row["entities"]] == ref["entities"]
        assert [t["text"] for t in row["topics"]] == ref["topics"]


def test_embed_batch_matches_spec():
    texts = pd.Series(["spark join table", "", "hotterm connecticut"])
    out = embed_batch(texts)
    for text, vec in zip(texts, out):
        assert np.array_equal(np.asarray(vec), spec.embed_text(text))


def test_assemble_content_order_invariance(spark):
    # spans arrive shuffled; assemble must re-establish offset order
    rows = [
        (
            "d1",
            [
                {"kind": "text", "text": "second chunk", "media_ref": None, "offset": 1},
                {"kind": "image", "text": None, "media_ref": "media://x", "offset": 2},
                {"kind": "text", "text": "first chunk", "media_ref": None, "offset": 0},
            ],
        )
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = assemble_content(df).collect()[0]
    assert out["content"] == "first chunk second chunk"
    assert out["media_refs"] == ["media://x"]
    assert out["summary"] == "first chunk second chunk"
    assert out["title"].startswith("first chunk")


def test_udf_extraction_equals_native(spark):
    """The fused enrich UDF's entities and the SQL-expressible twin agree on
    real data."""
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .limit(100)
        .select(F.col("doc_id").cast("string").alias("doc_id"), F.col("text").alias("content"))
    )
    udf_out = {
        r["doc_id"]: [e["text"] for e in r["entities"]]
        for r in enrich_content(docs).select("doc_id", "entities").collect()
    }
    native = entities_native(docs).orderBy("doc_id", "rn").collect()
    nat_out: dict[str, list[str]] = {}
    for r in native:
        nat_out.setdefault(r["doc_id"], []).append(r["token"])
    assert udf_out == nat_out


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("q", "q")], "src string, dst string"
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "q": "q"}


def test_connected_components_chain(spark):
    # a long chain needs multiple propagation rounds
    n = 12
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n)], "src string, dst string"
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert set(got.values()) == {"n00"}
    assert len(got) == n + 1


def test_candidate_edges_vs_bruteforce(spark):
    """Blocked+salted join finds exactly the brute-force edge set within blocks."""
    from semantic_search_system_spark.operators.embedding import embed_udf

    pdf = pd.DataFrame({"phrase": ["spark join", "spark joins", "spark merge", "zebra run", "zebra runs"]})
    sdf = spark.createDataFrame(pdf).withColumn("embedding", embed_udf(F.col("phrase")))
    got = {
        (r["src"], r["dst"])
        for r in candidate_edges(sdf, "phrase", "embedding", threshold=0.5).collect()
    }
    # brute force within first-token blocks
    vecs = {p: spec.embed_text(p) for p in pdf["phrase"]}
    want = set()
    for a in vecs:
        for b in vecs:
            if a < b and a.split()[0] == b.split()[0]:
                sim = spec.round_half_away(
                    np.dot(vecs[a].astype(np.float64), vecs[b].astype(np.float64))
                )
                if float(sim) >= 0.5:
                    want.add((a, b))
    assert got == want


def test_candidate_edges_salting_exactness(spark):
    """Hot-block salting must not change the edge set (exact pair coverage)."""
    from semantic_search_system_spark.operators.embedding import embed_udf

    pdf = pd.DataFrame({"phrase": [f"hot word{i}" for i in range(30)]})
    sdf = spark.createDataFrame(pdf).withColumn("embedding", embed_udf(F.col("phrase")))
    unsalted = {
        (r["src"], r["dst"])
        for r in candidate_edges(sdf, "phrase", "embedding", threshold=0.3, hot_block_limit=10_000).collect()
    }
    salted = {
        (r["src"], r["dst"])
        for r in candidate_edges(
            sdf, "phrase", "embedding", threshold=0.3, hot_block_limit=5, n_salt=4
        ).collect()
    }
    assert salted == unsalted and len(salted) > 0


def test_minmax_normalize_edge_cases(spark):
    df = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], "id int, score double")
    out = {r["id"]: r["norm_score"] for r in minmax_normalize_100(df, "score").collect()}
    assert out[1] == 1.0 and out[3] == 100.0 and abs(out[2] - 50.5) < 1e-9
    # constant scores → everyone 100 (search_pipeline.py:53-57)
    const = spark.createDataFrame([(1, 5.0), (2, 5.0)], "id int, score double")
    outc = {r["id"]: r["norm_score"] for r in minmax_normalize_100(const, "score").collect()}
    assert outc == {1: 100.0, 2: 100.0}


def test_fused_enrich_equals_unfused(spark):
    """enrich_content on RAW content (fused UDF: Arrow-RE2 clean + shared
    token stream) must emit the JVM ``clean_text_col`` content and the spec's
    entities, topics and embedding for every doc."""
    from semantic_search_system_spark.fixtures.interleave import interleaved_path
    from semantic_search_system_spark.operators.extraction import has_usable_text

    base = spark.read.parquet(interleaved_path(SF_SMALL)).where(has_usable_text())
    raw = assemble_content(base)
    cols = ["doc_id", "content", "entities", "topics", "embedding"]
    fused = {r["doc_id"]: r for r in enrich_content(raw).select(cols).collect()}
    ref = {
        r["doc_id"]: (r["content"], r["clean"])
        for r in raw.select("doc_id", "content", clean_text_col("content").alias("clean"))
        .collect()
    }
    assert fused.keys() == ref.keys() and len(fused) > 100
    for k, r in fused.items():
        text, clean = ref[k]
        want = spec.extract_doc(text)
        assert r["content"] == clean, k
        assert [(e["text"], e["label"]) for e in r["entities"]] == [
            (t, "ENTITY") for t in want["entities"]
        ], k
        assert [(t["text"], t["label"]) for t in r["topics"]] == [
            (t, "TOPIC") for t in want["topics"]
        ], k
        assert np.array_equal(np.asarray(r["embedding"], np.float32), spec.embed_text(text)), k


def test_jvm_clean_matches_arrow_clean_adversarial(spark):
    """clean_text_col (JVM regex) and clean_arrow_array (Arrow RE2) must agree on
    whitespace edge cases — notably VT (0x0b), which Java's ``\\s`` contains
    and RE2's does not (round-3 ADVICE #1: 'foo<VT>bar baz qux' diverged before the
    explicit spec.CLEAN_*_RE classes)."""
    import pyarrow as pa

    from semantic_search_system_spark.operators.enrichment import clean_arrow_array
    from semantic_search_system_spark.session import local_df

    cases = [
        "foo\x0bbar baz qux",
        " \x0b leading and trailing \x0b ",
        "tab\tmix\x0b\f\r\nof all five",
        "nbsp\xa0joined and line-sep",
        "CAPS and Punct!? 123",
        "\x0b",
        "",
        "already clean text",
    ]
    df = local_df(spark, list(enumerate(cases)), "i int, text string")
    got_jvm = {
        r["i"]: r["c"]
        for r in df.select("i", clean_text_col("text").alias("c")).collect()
    }
    got_arrow = clean_arrow_array(pa.array(cases)).to_pylist()
    for i, s in enumerate(cases):
        assert got_jvm[i] == got_arrow[i], (i, repr(s), got_jvm[i], got_arrow[i])


def test_fuzzy_edges_exact_recall_distance1(spark):
    """Delete-1 neighborhood blocking must find EVERY distance-<=1 pair,
    including edits inside the first characters that the old prefix blocking
    missed (round-3 VERDICT #2: 'park'/'spark', 'smark'/'spark')."""
    from semantic_search_system_spark.operators.linking import fuzzy_candidate_edges
    from semantic_search_system_spark.session import local_df

    names = [
        "spark", "park", "smark", "spork", "sparks", "qpark",
        "flink", "blink", "link", "zebra", "zebr", "aebra",
        "a", "b", "ab",
    ]
    df = local_df(spark, [(n,) for n in names], "name string")
    got = {(r["src"], r["dst"]) for r in fuzzy_candidate_edges(df, "name").collect()}

    def lev(a, b):
        import numpy as np

        d = np.arange(len(b) + 1)
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
        return int(d[len(b)])

    want = {
        (a, b)
        for a in names
        for b in names
        if a < b and lev(a, b) <= 1
    }
    assert got == want and ("park", "spark") in got and ("smark", "spark") in got


def test_lda_vocab_matches_countvectorizer(spark):
    """The hash-graded lda_doc_term_counts projection derives the SAME
    vocabulary the actual topic_model_lda CountVectorizer fits (minDF=2,
    vocabSize=1024) — so the DuckDB-checked doc-term matrix is exactly the
    LDA's deterministic input and only the EM labels remain rows-only."""
    from pyspark.ml.feature import CountVectorizer

    import semantic_search_system_spark.entrypoints as ep

    d = ep.load(spark, SF_SMALL, "documents").select(
        "doc_id", F.split(clean_text_col(F.col("text")), " ").alias("tokens")
    )
    cv = CountVectorizer(inputCol="tokens", outputCol="tf", vocabSize=1024, minDF=2.0).fit(d)
    derived = ep.registry()["lda_doc_term_counts"](spark, SF_SMALL)
    terms = {r["term"] for r in derived.select("term").distinct().collect()}
    assert terms == set(cv.vocabulary) and len(terms) > 0
    # and the per-(doc, term) counts equal the vectorized counts
    from collections import defaultdict

    want = defaultdict(dict)
    for r in cv.transform(d).select("doc_id", "tf").collect():
        v = r["tf"]
        for idx, cnt in zip(v.indices, v.values):
            want[r["doc_id"]][cv.vocabulary[int(idx)]] = int(cnt)
    got = defaultdict(dict)
    for r in derived.collect():
        got[r["doc_id"]][r["term"]] = int(r["n"])
    assert got == want
