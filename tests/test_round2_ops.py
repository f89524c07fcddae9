"""Round-2 operators: D1 sampling, Q1/Q2/Q3 contexts, multimodal digests,
RP-LSH recall on planted clusters."""

from __future__ import annotations

import hashlib


# --- D1 sampling --------------------------------------------------------------


def test_stratified_sample_exact_counts_and_determinism(spark):
    from split_ner_spark.ops.sampling import stratified_sample

    rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    s1 = stratified_sample(df, ["lang"], "doc_id", 5)
    got = s1.groupBy("lang").count().collect()
    assert {r["lang"]: r["count"] for r in got} == {"en": 5, "de": 5, "fr": 5}
    # deterministic: same rows under different partitioning
    s2 = stratified_sample(df.repartition(7), ["lang"], "doc_id", 5)
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))
    # matches the python spec: lowest md5(doc_id) per stratum
    for lang in ("en", "de", "fr"):
        ids = [i for i, l in rows if l == lang]
        want = sorted(ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())[:5]
        have = sorted(r["doc_id"] for r in s1.collect() if r["lang"] == lang)
        assert have == sorted(want)


def test_k_shot_cover_contract(spark):
    from split_ner_spark.ops.sampling import k_shot_cover

    rows = []
    for i in range(40):
        rows.append(("person", i))
        if i % 2 == 0:
            rows.append(("location", i))
    rows.append(("rare", 99))
    df = spark.createDataFrame(rows, "tag string, doc_id long")
    cover = k_shot_cover(df, "tag", "doc_id", 3).collect()
    per_tag = {}
    for r in cover:
        per_tag.setdefault(r["tag"], []).append(r["shot_rank"])
    # >=k examples per tag when available; all of a rare tag otherwise
    assert sorted(per_tag["person"]) == [1, 2, 3]
    assert sorted(per_tag["location"]) == [1, 2, 3]
    assert per_tag["rare"] == [1]


def test_k_partition_split_folds(spark):
    from split_ner_spark.ops.sampling import k_partition_split

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    out = k_partition_split(df, "doc_id", 4)
    folds = {r["fold"] for r in out.select("fold").distinct().collect()}
    assert folds == {0, 1, 2, 3}
    # stable under repartitioning (pure function of key)
    out2 = k_partition_split(df.repartition(9), "doc_id", 4)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, out2.collect()))


# --- Q1/Q2/Q3 contexts ---------------------------------------------------------


def test_context_cardinalities_and_layout(spark):
    from split_ner_spark.ops.contexts import (
        DETECT_QUERY_TOKENS,
        classify_contexts,
        detect_contexts,
        per_type_contexts,
    )

    sents = spark.createDataFrame(
        [(0, ["Acme", "Corp", "ships", "tables"]), (1, ["hello", "world"])],
        "sent_id long, tokens array<string>",
    )
    det = detect_contexts(sents)
    rows = det.collect()
    assert len(rows) == 2  # Q1: one per sentence
    r0 = next(r for r in rows if r["sent_id"] == 0)
    assert r0["context_tokens"][0] == "[CLS]"
    assert r0["context_tokens"][1 : 1 + len(DETECT_QUERY_TOKENS)] == DETECT_QUERY_TOKENS
    assert r0["context_tokens"].count("[SEP]") == 2
    assert r0["n_context_tokens"] == 3 + len(DETECT_QUERY_TOKENS) + 4

    tags = spark.createDataFrame(
        [("person", "person"), ("corp", "corporation")],
        "entity_type string, tag_name string",
    )
    single = per_type_contexts(sents, tags)
    assert single.count() == 4  # Q2: |sentences| x |types|

    mentions = spark.createDataFrame(
        [(0, ["Acme", "Corp", "ships", "tables"], "Acme Corp")],
        "sent_id long, tokens array<string>, surface string",
    )
    q3 = classify_contexts(mentions).collect()[0]
    assert q3["context_tokens"][:6] == ["[CLS]", "What", "is", "Acme", "Corp", "?"]


def test_per_type_binarized_labels(spark):
    from split_ner_spark.ops.contexts import per_type_contexts

    sents = spark.createDataFrame(
        [(0, ["Acme", "Corp", "ships"], ["B-corp", "I-corp", "O"])],
        "sent_id long, tokens array<string>, tags array<string>",
    )
    tags = spark.createDataFrame(
        [("corp", "corporation"), ("person", "person")],
        "entity_type string, tag_name string",
    )
    out = per_type_contexts(sents, tags, tags_col="tags").collect()
    by_type = {r["entity_type"]: r["binary_labels"] for r in out}
    assert by_type["corp"] == [1, 1, 0]
    assert by_type["person"] == [0, 0, 0]


# --- multimodal digests ---------------------------------------------------------


def test_payload_digests_match_python(spark):
    from split_ner_spark.ops.multimodal import payload_digests, synth_assets

    assets = synth_assets(spark, 30)
    got = {r["asset_id"]: r for r in payload_digests(assets).collect()}
    raw = {r["asset_id"]: bytes(r["payload"]) for r in assets.collect()}
    assert len(got) == 30
    for i, p in raw.items():
        assert got[i]["n_bytes"] == len(p)
        assert (
            got[i]["payload_hex_sha256"]
            == hashlib.sha256(p.hex().encode()).hexdigest()
        )


# --- RP-LSH on planted clusters --------------------------------------------------


def test_rp_lsh_recall_on_clustered_embeddings(spark):
    """On embeddings with real cluster structure the banded RP-LSH path
    must recover (nearly) all true neighbors — the low recall on the
    near-random test corpus is a data property, not an operator bug."""
    import random

    from split_ner_spark.ops.simsearch import EMB_DIM, rp_lsh_recall

    rng = random.Random(3)
    centers = [
        [rng.gauss(0, 1) for _ in range(EMB_DIM)] for _ in range(5)
    ]
    rows = []
    for vid in range(100):
        c = centers[vid % 5]
        rows.append((vid, [x + rng.gauss(0, 0.05) for x in c]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    r = rp_lsh_recall(emb, n_queries=10, k=5).collect()[0]
    assert r["n_exact"] == 50
    assert r["recall"] >= 0.95


def test_per_type_contexts_helper_sentence_reference_settings(spark):
    """Q2 helper-sentence arm (dataset_qa.py:212-230) at the reference's
    settings: inference mode embeds the full sentence in the query
    segment; train mode keeps only O + target-type tokens; max_seq_len
    clips before the final [SEP]."""
    from split_ner_spark.ops.contexts import per_type_contexts

    sents = spark.createDataFrame(
        [(0, ["Alice", "visited", "Paris", "today"],
          ["B-PER", "O", "B-LOC", "O"])],
        "sent_id int, tokens array<string>, tags array<string>",
    )
    tags = spark.createDataFrame(
        [("PER", "person"), ("LOC", "location")],
        "entity_type string, tag_name string",
    )
    # inference: helper = full sentence inside segment 0
    inf = {
        r["entity_type"]: r["context_tokens"]
        for r in per_type_contexts(
            sents, tags, tags_col="tags", helper_sentence=True, train=False
        ).collect()
    }
    q_per = "What is the person mentioned in the text ?".split(" ")
    assert inf["PER"] == (
        ["[CLS]"] + q_per + ["Alice", "visited", "Paris", "today"]
        + ["[SEP]"] + ["Alice", "visited", "Paris", "today"] + ["[SEP]"]
    )
    # train: only O + target-type tokens survive in the helper
    tr = {
        r["entity_type"]: r["context_tokens"]
        for r in per_type_contexts(
            sents, tags, tags_col="tags", helper_sentence=True, train=True
        ).collect()
    }
    assert tr["PER"] == (
        ["[CLS]"] + q_per + ["Alice", "visited", "today"]
        + ["[SEP]"] + ["Alice", "visited", "Paris", "today"] + ["[SEP]"]
    )
    # binarized labels ride along (dataset_qa.py:252-296)
    bl = {
        r["entity_type"]: r["binary_labels"]
        for r in per_type_contexts(
            sents, tags, tags_col="tags", helper_sentence=True, train=True
        ).collect()
    }
    assert bl["PER"] == [1, 0, 0, 0] and bl["LOC"] == [0, 0, 1, 0]
    # max_seq_len truncation: clip to max-1 then final [SEP]
    short = per_type_contexts(
        sents, tags, max_seq_len=12
    ).collect()[0]["context_tokens"]
    assert len(short) == 12 and short[-1] == "[SEP]" and short[0] == "[CLS]"
    # shorter-than-max contexts must NOT get a duplicate [SEP]
    long_ok = per_type_contexts(
        sents, tags, max_seq_len=256
    ).collect()[0]["context_tokens"]
    assert long_ok[-1] == "[SEP]" and long_ok[-2] != "[SEP]"
