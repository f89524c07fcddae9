"""HFScorer adapter: plan equality vs the surrogate, F2 id encodings.

The container has no torch/transformers, so real-forward tests are
import-guarded (skip) — what MUST hold hermetically is (a) the module
imports, (b) swapping scorers does not change the Spark physical plan
(only the UDF payload), (c) the F2 char/pattern id encodings reproduce
the reference's get_char_ids/get_pattern_ids semantics
(/root/reference/splitner/dataset.py:472-505) bit-for-bit on fixtures.
"""

from __future__ import annotations

import re

import numpy as np
import pytest

from split_ner_spark.hf_scorer import (
    HFScorer,
    encode_char_ids,
    encode_pattern_ids,
    pattern_features,
    transformers_available,
)


def _plan_skeleton(df) -> list[str]:
    """Physical plan node sequence, stripped of ids/addresses."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = []
    for line in plan.splitlines():
        m = re.search(r"([A-Za-z]+)(?: |\()", line.strip(" +-*:"))
        if m:
            nodes.append(m.group(1))
    return nodes


def test_plan_identical_under_scorer_swap(spark):
    from split_ner_spark import corpus
    from split_ner_spark.ops.detect import DeterministicScorer, detect_spans
    from split_ner_spark.ops.segment import segment_pages

    sents = segment_pages(corpus.pages(corpus.gen_pages_with_gold(spark, 50)))
    a = detect_spans(sents, scorer=DeterministicScorer())
    b = detect_spans(sents, scorer=HFScorer("any/checkpoint/path"))
    assert a.schema == b.schema
    assert _plan_skeleton(a) == _plan_skeleton(b)


def test_classify_plan_identical_under_scorer_swap(spark):
    from split_ner_spark.ops.classify import classify_mentions
    from split_ner_spark.ops.detect import DeterministicScorer

    m = spark.createDataFrame([("Acme Corp",)], "surface string")
    a = classify_mentions(m, scorer=DeterministicScorer())
    b = classify_mentions(m, scorer=HFScorer("d", classify_model_path="c"))
    assert a.schema == b.schema
    assert _plan_skeleton(a) == _plan_skeleton(b)


# --- F2 encodings vs the reference's torch implementation (fixtures) ----------


def test_char_ids_match_reference_semantics():
    # reference: get_char_ids(batch_text, max_len, vocab) — dataset.py:473-487
    vocab = list("abcdeXY")
    batch = [["abc", "Xe"], ["d"]]
    got = encode_char_ids(batch, max_len=3, vocab=vocab)
    assert got.shape == (2, 3, 3)  # max word len 3 (>=3 kernel guard)
    # 'abc' -> [1,2,3]; 'Xe' -> [6,5,0] (index+1, pad 0)
    assert got[0, 0].tolist() == [1, 2, 3]
    assert got[0, 1].tolist() == [6, 5, 0]
    assert got[0, 2].tolist() == [0, 0, 0]  # sentence pad row
    assert got[1, 0].tolist() == [4, 0, 0]
    # chars outside the vocab are dropped, as in the reference
    got2 = encode_char_ids([["a!b"]], max_len=1, vocab=vocab)
    assert got2[0, 0].tolist() == [1, 2, 0]


def test_pattern_ids_match_reference_semantics():
    # reference: get_pattern_ids(batch_text, max_len, pattern_vocab)
    pats = pattern_features(["Acme", "CORP", "x9y", "hello"])
    assert pats == ["F", "U", "l9l", "L"]  # type1 shapes (dataset.py:237-250)
    vocab = ["L", "U", "F"]
    got = encode_pattern_ids([pats], max_len=6, pattern_vocab=vocab)
    # F=2, U=1, OOV('l9l')=len(vocab)=3, L=0, pads 0
    assert got[0].tolist() == [2, 1, 3, 0, 0, 0]


def test_worker_singleton_keyed_by_path():
    import split_ner_spark.hf_scorer as hs

    s = HFScorer("path/a")
    assert s.detect_model_path == "path/a"
    assert isinstance(hs._WORKER_MODELS, dict)


@pytest.mark.skipif(
    not transformers_available(), reason="torch/transformers not installed"
)
def test_real_forward_contract(spark):  # pragma: no cover - env-gated
    """With real checkpoints present, the adapter must return one BIOES
    label per input word and flow through the same detect_spans plan."""
    import os

    ckpt = os.environ.get("SPLIT_NER_DETECT_CKPT")
    if not ckpt:
        pytest.skip("SPLIT_NER_DETECT_CKPT not set")
    scorer = HFScorer(ckpt)
    labels = scorer.detect_labels([["Acme", "Corp", "ships"]])
    assert len(labels) == 1 and len(labels[0]) == 3
    assert set(labels[0]) <= {"O", "B", "I", "E", "S"}


# --- head mapping + label-order derivation (hermetic, no torch) ---------------


def test_map_first_subword_predictions_pair_encoding_fixture():
    """Hand-built pair-encoding layout for sentence ["Acme", "Corp",
    "runs"] where "Acme" splits into 2 subwords and "runs" into 2:
    [CLS] q q [SEP] Ac ##me Corp ru ##ns [SEP] — only the FIRST subword
    of each sentence word contributes, specials/query are skipped."""
    from split_ner_spark.hf_scorer import QA_TAGS, map_first_subword_predictions

    word_ids = [None, 0, 1, None, 0, 0, 1, 2, 2, None]
    seq_ids = [None, 0, 0, None, 1, 1, 1, 1, 1, None]
    #          CLS   q  q   SEP  Ac ##me Co ru ##ns SEP
    pred_row = [4, 4, 4, 4, 1, 2, 3, 0, 4, 4]  # S S S S B I E O S S
    labels = map_first_subword_predictions(word_ids, seq_ids, pred_row, 3)
    # Acme <- pos4 (B), Corp <- pos6 (E), runs <- pos7 (O);
    # ##me (pos5, I) and ##ns (pos8, S) are non-head and must be ignored
    assert labels == ["B", "E", "O"]
    assert QA_TAGS[1] == "B" and QA_TAGS[3] == "E"


def test_map_first_subword_predictions_truncation_keeps_O():
    """A word truncated out of the encoding (no subword with its wid)
    keeps 'O' — main_qa.py's decode never indexes past the encoding."""
    from split_ner_spark.hf_scorer import map_first_subword_predictions

    word_ids = [None, 0, None, 0, 1, None]
    seq_ids = [None, 0, None, 1, 1, None]
    pred_row = [0, 0, 0, 1, 3, 0]  # B on word0, E on word1
    labels = map_first_subword_predictions(word_ids, seq_ids, pred_row, 4)
    assert labels == ["B", "E", "O", "O"]  # words 2,3 truncated -> O


def test_derive_label_order_prefers_meaningful_id2label():
    from types import SimpleNamespace

    from split_ner_spark.hf_scorer import QA_TAGS, derive_label_order

    # checkpoint trained elsewhere: same tags, different index order
    cfg = SimpleNamespace(id2label={0: "B", 1: "I", 2: "O", 3: "E", 4: "S"})
    assert derive_label_order(cfg, QA_TAGS) == ["B", "I", "O", "E", "S"]
    # transformers' default placeholder map -> fall back to QA_TAGS
    cfg2 = SimpleNamespace(
        id2label={i: f"LABEL_{i}" for i in range(5)}
    )
    assert derive_label_order(cfg2, QA_TAGS) == QA_TAGS
    # string keys (json round-trip) are handled
    cfg3 = SimpleNamespace(id2label={"1": "I", "0": "O"})
    assert derive_label_order(cfg3, QA_TAGS) == ["O", "I"]
    # no id2label at all -> fallback
    assert derive_label_order(SimpleNamespace(), QA_TAGS) == QA_TAGS
