"""Corpus-trained PPMI-SVD embeddings (operators/embedding.py) — the
real-encoder path of the semantic refine pass (VERDICT round-3 item 3).

The reference's refine_nodes embeds node renderings with an external model
and merges kNN hits at cosine >= 0.6 (refine_nodes.py:45-57,
vector_store.py:13); no model is downloadable in this sandbox, so the
engine trains a distributional embedding FROM the corpus (Levy & Goldberg
2014 PPMI factorization).  The gate these tests pin: a lexically-disjoint
alias pair ("Apex Court" vs "Supreme Court of India") merges in the
build_graph path with the trained embedder plugged in, and does NOT merge
without it.
"""

from __future__ import annotations

import numpy as np
import pytest

from conftest import assigned_frame

TEMPLATES = [
    "the {a} delivered the judgment in the appeal today",
    "the {a} dismissed the petition with costs imposed",
    "counsel argued before the {a} during the hearing",
    "the {a} upheld the conviction of the accused person",
    "the {a} heard the matter and reserved orders",
]

NOISE = [
    "the village market sold fresh produce every morning",
    "a railway station platform was crowded during festivals",
    "farmers harvested wheat across the northern plains",
    "the school reopened after the long summer holidays",
]


def _corpus_df(spark):
    rows = []
    i = 0
    for alias in ("apex court", "supreme court of india", "supreme court"):
        for t in TEMPLATES:
            rows.append((i, t.format(a=alias)))
            i += 1
    for t in NOISE * 2:
        rows.append((i, t))
        i += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def trained(spark):
    from ontologybasedkgcreation_spark.operators import embedding
    from ontologybasedkgcreation_spark.operators.embedding import (
        ppmi_vectors,
        token_cooccurrence,
    )

    docs = _corpus_df(spark)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(embedding, "EMBED_MAX_VOCAB", 500)
        mp.setattr(embedding, "EMBED_DIM", 32)
        rows, vocab = token_cooccurrence(docs)
        vectors = ppmi_vectors(rows, vocab)
    return docs, rows, vocab, vectors


def test_cooccurrence_counts_are_symmetric_half(trained):
    _, rows, vocab, _ = trained
    assert all(w <= c for w, c, _ in rows)
    assert "the" not in vocab  # stopword excluded from the vocabulary
    assert "court" in vocab and "apex" in vocab and "supreme" in vocab


def test_cooccurrence_join_is_equi_keyed_on_doc_and_pos(spark, monkeypatch):
    """Plan pin for the round-4 verdict's one perf defect: the window
    constraint must live IN the join key (probe side exploded to pos+1..
    pos+window, equi-join on (doc, pos)) so the pairing is O(tokens x
    window).  A doc-only equi-key with the window as a post-join band
    filter is a per-document cross product — O(tokens^2) on long docs."""
    import re

    from ontologybasedkgcreation_spark.operators import embedding

    monkeypatch.setattr(embedding, "COOCCUR_MIN_COUNT", 2)
    monkeypatch.setattr(embedding, "COOCCUR_MAX_VOCAB", 500)
    cooc = embedding.cooccurrence_frame(_corpus_df(spark))
    plan = cooc._jdf.queryExecution().executedPlan().toString()
    inner = [l for l in plan.split("\n")
             if "Join" in l and "Inner" in l and "LeftSemi" not in l]
    assert inner, plan
    for line in inner:
        # every inner join keys on BOTH doc and pos
        keys = re.search(r"Join \[([^\]]*)\], \[([^\]]*)\], Inner", line)
        assert keys, line
        assert "doc#" in keys.group(1) and "pos#" in keys.group(1), line
        # and carries no residual position band condition
        assert "<=" not in line and ">" not in line.split("Inner")[1], line


def test_fast_cooccurrence_bit_identical_to_spec_join(spark, monkeypatch):
    """Round-5 parity pin (the repo's simhash pattern): the numpy
    partial-count fast path (``cooccurrence_counts_fast`` — per-partition
    vocab x vocab ``np.add.at`` matrices, vocab-pair-sized shuffle) must be
    BIT-IDENTICAL to the spec (doc, pos) equi-join, which stays as the
    ``cooccur`` oracle.  The corpus deliberately carries every parity
    hazard:

    - byte-identical duplicate documents (the fast path keys a document
      by its text, so d copies are one document weighted d^2 — the spec's
      count for d rows sharing one doc_id);
    - tab/multi-space runs and leading/trailing whitespace (Java \\s+);
    - a NBSP-joined token (Java \\s does NOT split U+00A0 — neither may
      the Python stage; ``str.split()`` would and is therefore banned);
    - out-of-vocabulary tokens interleaved between kept ones (positions
      are global over ALL tokens, not vocab-filtered ones);
    - a one-token document and an empty-ish document (no pairs);
    - non-ASCII upper case (É, final sigma, dotted İ), lowercased by the
      JVM on both legs.
    """
    from ontologybasedkgcreation_spark.operators import embedding
    from ontologybasedkgcreation_spark.operators.embedding import (
        cooccurrence_frame,
        token_cooccurrence,
        vocab_frame,
    )

    rows = []
    i = 0
    for t in TEMPLATES:
        rows.append((i, t.format(a="apex court")))
        i += 1
    # three byte-identical duplicates under one doc_id -> d=3, weight 9
    for _ in range(3):
        rows.append((i, "the apex court dismissed the appeal today"))
    i += 1
    rows += [
        (i, "  court\tapex  joined court   apex  "),  # NBSP token
        (i + 1, "xzqv court plmk apex wqrt court"),  # OOV interleave
        (i + 2, "court"),
        (i + 3, "   "),
        # non-ASCII case mapping: both legs must lowercase in the JVM
        (i + 4, "ÉCOLE court École apex ΟΔΟΣ court οδος İNDIA apex İndia"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(embedding, "EMBED_WINDOW", 3)
    monkeypatch.setattr(embedding, "EMBED_MAX_VOCAB", 100)
    monkeypatch.setattr(embedding, "COOCCUR_MIN_COUNT", embedding.EMBED_MIN_COUNT)
    monkeypatch.setattr(embedding, "COOCCUR_MAX_VOCAB", 100)
    slow_vocab = {r["token"]: int(r["n"]) for r in vocab_frame(docs).collect()}
    slow_rows = [
        (r["w"], r["c"], int(r["n"])) for r in cooccurrence_frame(docs).collect()
    ]
    fast_rows, fast_vocab = token_cooccurrence(docs)
    assert fast_vocab == slow_vocab
    assert sorted(fast_rows) == sorted(slow_rows)
    # the d^2 duplicate weighting bit on this corpus: (appeal, dismissed)
    # two positions apart occurs only in the duplicated sentence
    pair_n = {(w, c): n for w, c, n in fast_rows}[("appeal", "dismissed")]
    assert pair_n == 9


def test_distributional_similarity_orders_correctly(trained, monkeypatch):
    """Tokens sharing contexts embed close; unrelated tokens don't — and
    retraining is deterministic (eigh + sign convention, no RNG)."""
    _, rows, vocab, vectors = trained
    from ontologybasedkgcreation_spark.operators import embedding
    from ontologybasedkgcreation_spark.operators.embedding import ppmi_vectors

    sim = lambda a, b: float(np.dot(vectors[a], vectors[b]))
    assert sim("apex", "supreme") > 0.6
    assert sim("apex", "supreme") > sim("apex", "market") + 0.3
    assert sim("apex", "supreme") > sim("court", "wheat") + 0.3
    monkeypatch.setattr(embedding, "EMBED_DIM", 32)
    again = ppmi_vectors(rows, vocab)
    for t, v in vectors.items():
        assert np.array_equal(v, again[t])


def test_embedder_hook_contract(spark, trained):
    """dict_embedder satisfies the refine_pairs_semantic hook shape:
    df(pre_key, norm_identity) -> df(pre_key, embedding), L2-normalized,
    mean-pooled with stopwords skipped."""
    from ontologybasedkgcreation_spark.operators.embedding import dict_embedder

    _, _, _, vectors = trained
    emb = dict_embedder(vectors)
    out = emb(
        spark.createDataFrame(
            [("k1", "apex court"), ("k2", "supreme court of india"),
             ("k3", "zzz-unknown-token")],
            "pre_key string, norm_identity string",
        )
    )
    got = {r["pre_key"]: np.array(r["embedding"]) for r in out.collect()}
    assert set(got) == {"k1", "k2", "k3"}
    assert abs(np.linalg.norm(got["k1"]) - 1.0) < 1e-9
    # identity-level cosine: the alias pair is close, and "of" (stopword)
    # never contributed — k2 equals the mean of supreme/court/india only
    cos = float(np.dot(got["k1"], got["k2"]))
    assert cos > 0.6
    assert np.allclose(got["k3"], 0.0)  # all-OOV -> zero vector


ALIAS_DOCS = [
    "the apex court held that the supreme court of india alone may entertain such a petition",
    "this court being the apex court the supreme court of india must weigh the evidence afresh",
    "the supreme court of india sitting as the apex court dismissed the appeal",
    "learned counsel urged the apex court to reconsider while the supreme court of india reserved orders",
    "the apex court namely the supreme court of india upheld the conviction recorded below",
]
SIBLING_DOCS = [
    "the madras high court dismissed the petition with costs imposed",
    "the bombay high court dismissed the petition with costs imposed",
    "counsel argued before the madras high court during the hearing",
    "counsel argued before the bombay high court during the hearing",
    "the madras high court upheld the conviction of the accused person",
    "the bombay high court upheld the conviction of the accused person",
]
JUDGE_DOCS = [
    "deshmukh j observed that the testimony was consistent and inspired confidence",
    "raghavan j observed that the testimony was consistent and inspired confidence",
    "the bench of deshmukh j heard the matter and reserved orders",
    "the bench of raghavan j heard the matter and reserved orders",
]


def test_semantic_default_auto_trains_with_gate_standins(spark):
    """Round-4 verdict item 4, DEFAULT-ON path: build_graph(corpus=...)
    auto-trains the PPMI-SVD embedder above the doc floor and runs the
    semantic refine at the reference's 0.6 gate WITH the deterministic
    stand-ins for its LLM+human merge gate:

    - co-mention attestation merges the attested lexically-disjoint alias
      ('Apex Court' == 'Supreme Court of India', both mentioned on u3);
    - sibling entities (Madras/Bombay High Court, measured cosine 1.000,
      never co-mentioned) do NOT merge;
    - person-name nodes (two bench judges, measured cosine 1.000, even
      co-mentioned on u6) do NOT merge;
    - CourtCase nodes never fuzzy-merge, and the Court edges rewire onto
      the merged node.
    """
    from pyspark.sql import functions as SF

    from ontologybasedkgcreation_spark.operators import linking

    docs_rows = []
    for k, t in enumerate((ALIAS_DOCS + SIBLING_DOCS + JUDGE_DOCS) * 3):
        docs_rows.append((f"https://d/{k}", t))
    docs = spark.createDataFrame(docs_rows, "url string, text string")

    c = lambda i: {"hasCaseID": f"Criminal Appeal No. {i} Of 2015",
                   "hasCaseName": f"A{i} Versus B{i}"}
    rows = [
        ("u1", "CourtCase", c(1), "hasRulingOf", "Court",
         {"courtName": "Supreme Court Of India"}),
        ("u2", "CourtCase", c(2), "hasRulingOf", "Court",
         {"courtName": "Apex Court"}),
        # u3 mentions BOTH spellings -> the pair is attested
        ("u3", "CourtCase", c(3), "hasRulingOf", "Court",
         {"courtName": "Supreme Court Of India"}),
        ("u3", "CourtCase", c(3), "cited", "Court",
         {"courtName": "Apex Court"}),
        # sibling courts, never co-mentioned
        ("u4", "CourtCase", c(4), "hasRulingOf", "Court",
         {"courtName": "Madras High Court"}),
        ("u5", "CourtCase", c(5), "hasRulingOf", "Court",
         {"courtName": "Bombay High Court"}),
        # two judges co-mentioned (a bench) -> person gate must veto
        ("u6", "CourtCase", c(6), "hasJudge", "Judge",
         {"COFirstName": "A.", "COLastName": "Deshmukh"}),
        ("u6", "CourtCase", c(6), "hasJudge", "Judge",
         {"COFirstName": "V.", "COLastName": "Raghavan"}),
    ]
    assigned = assigned_frame(spark, rows)

    base = linking.build_graph(assigned)
    assert base["nodes"].filter(SF.col("head_label") == "Court").count() == 4

    auto = linking.build_graph(assigned, corpus=docs,
                               semantic_auto_min_docs=10)
    courts = sorted(
        r["props"]["courtName"]
        for r in auto["nodes"].filter(SF.col("head_label") == "Court").collect()
    )
    assert courts == ["Bombay High Court", "Madras High Court",
                      "Supreme Court Of India"]
    assert auto["nodes"].filter(SF.col("head_label") == "Judge").count() == 2
    cases = auto["nodes"].filter(SF.col("head_label") == "CourtCase")
    assert cases.count() == 6
    # every hasRulingOf/cited edge of u1-u3 lands on the one merged Court
    merged = auto["nodes"].filter(
        SF.col("props")["courtName"] == "Supreme Court Of India"
    ).first()["node_key"]
    dsts = {
        r["dst_key"]
        for r in auto["edges"].filter(SF.col("url").isin("u1", "u2", "u3"))
        .collect()
    }
    assert dsts == {merged}
    # below the floor: identical to the lexical-only graph
    floor = linking.build_graph(assigned, corpus=docs,
                                semantic_auto_min_docs=10_000)
    assert floor["nodes"].filter(SF.col("head_label") == "Court").count() == 4


def test_pipeline_semantic_auto_keeps_pr(spark):
    """Default pipeline with the semantic refine AUTO-ACTIVATED (floor
    lowered under the 500-page fixture corpus): precision/recall stay
    1.0/1.0 — the guarded default merges nothing wrong on a corpus where
    unguarded distributional cosine would collapse judges, witnesses and
    sibling courts (all measured at cosine ~1.0).  At 60 pages the same
    run over-merges a CatchWord (small-vocab distortion) — that
    measurement is the floor's justification, recorded in
    BENCH/BASELINE.md."""
    from ontologybasedkgcreation_spark import fixtures, pipeline

    pages, expected = fixtures.pages_df(spark, 500, non_en_every=10)
    out = pipeline.run_pipeline(
        spark, pages, with_paragraphs=False, semantic_min_pages=400
    )
    pr = pipeline.triple_precision_recall(out["triple_set"], expected)
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0, pr


def test_semantic_auto_sample_cap_trains_on_url_keyed_sample(
    spark, monkeypatch
):
    """The >max_docs branch: the trainer sees only the url-hash sample
    (the filter pushes below extraction — plan-pinned in test_plans).
    With the cap forcing k=2 sampling on the tripled alias corpus, the
    attested alias pair still merges (each doc family repeats under
    three urls, so the sample keeps vocab coverage) and the person gate
    still vetoes."""
    from pyspark.sql import functions as SF

    from ontologybasedkgcreation_spark.operators import linking

    docs_rows = []
    for k, t in enumerate((ALIAS_DOCS + SIBLING_DOCS + JUDGE_DOCS) * 3):
        docs_rows.append((f"https://d/{k}", t))
    docs = spark.createDataFrame(docs_rows, "url string, text string")

    c = lambda i: {"hasCaseID": f"Criminal Appeal No. {i} Of 2015",
                   "hasCaseName": f"A{i} Versus B{i}"}
    rows = [
        ("u1", "CourtCase", c(1), "hasRulingOf", "Court",
         {"courtName": "Supreme Court Of India"}),
        ("u2", "CourtCase", c(2), "hasRulingOf", "Court",
         {"courtName": "Apex Court"}),
        ("u3", "CourtCase", c(3), "hasRulingOf", "Court",
         {"courtName": "Supreme Court Of India"}),
        ("u3", "CourtCase", c(3), "cited", "Court",
         {"courtName": "Apex Court"}),
        ("u6", "CourtCase", c(6), "hasJudge", "Judge",
         {"COFirstName": "A.", "COLastName": "Deshmukh"}),
        ("u6", "CourtCase", c(6), "hasJudge", "Judge",
         {"COFirstName": "V.", "COLastName": "Raghavan"}),
    ]
    assigned = assigned_frame(spark, rows)
    # forces the k=2 url-hash sample
    monkeypatch.setattr(linking, "SEMANTIC_MAX_DOCS", docs.count() // 2)
    capped = linking.build_graph(
        assigned, corpus=docs, semantic_auto_min_docs=10
    )
    courts = sorted(
        r["props"]["courtName"]
        for r in capped["nodes"].filter(
            SF.col("head_label") == "Court").collect()
    )
    assert courts == ["Supreme Court Of India"]
    assert capped["nodes"].filter(SF.col("head_label") == "Judge").count() == 2
