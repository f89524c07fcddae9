"""Differential oracle fuzzing — the sqllogictest analog for this engine.

Each *setting* draws (data seed, query family, family parameters) from a
seeded RNG, generates a fresh random corpus (deliberately seeded with the
edge cases the fixed sf0.01 tables cannot exercise: empty documents,
whitespace-only text, all-punctuation tokens, unicode including CJK /
combining accents / astral-plane emoji, digit tokens, near-duplicate
pairs), runs the PARAMETERIZED Spark query and its parameterized DuckDB
SQL twin on the same parquet, and diffs (row count, column names,
order-insensitive value fingerprint) — exactly the driver's correctness
gate, but over a randomized (data × parameter) space instead of one
fixed point.

Families:
  mention_contexts  random X6 window grids + thresholds
  scheme_rewrite    random tagging scheme (bio / bo / bioe / bioes)
  ngram_jaccard     random shingle k + similarity threshold
  minhash_lsh       random k, n_hashes, bands
  lsh_jaccard       the production LSH->verify composition, random knobs
  simhash_pairs     random hamming radius (pigeonhole band count)
  fixed:<name>      a documents-driven registry query, data-fuzzed only

CLI:  python scripts/fuzz_oracle.py --n 25 --seed 20260817
Pytest: tests/test_fuzz_oracle.py (marker: fuzz) runs >=25 settings.
"""

from __future__ import annotations

import argparse
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from scripts.oracle_check import frame_fingerprint  # noqa: E402
from split_ner_spark.ops import dedup  # noqa: E402
from split_ner_spark import queries as Q  # noqa: E402

BASE_SF_DIR = "/root/testdata/sf0.001"

GAZ_WORDS = ["spark", "data", "table", "vector", "customer", "query"]
FILLER = ["the", "fast", "key", "order", "sort", "merge", "join", "row",
          "line", "batch", "value", "scan", "group", "window", "small"]
UNICODE_TOKENS = ["naïve", "über", "日本語", "😀", "café", "Ωmega",
                  "ȷ̇oin"]
PUNCT_TOKENS = ["...", "!!!", "@#$", "-", ",", "''"]
DIGIT_TOKENS = ["123", "3.14", "0", "1e9"]
LANGS = ["en", "de", "es", "zh", "fr"]

POOL = GAZ_WORDS * 4 + FILLER * 3 + UNICODE_TOKENS + PUNCT_TOKENS + DIGIT_TOKENS

# registry queries driven purely by the documents table — safe to re-point
# at a fuzz corpus (all other tables stay symlinked to the base sf dir)
FIXED_DOC_QUERIES = [
    "kg_span_assembly", "kg_mention_counts", "kg_eval_f1", "kg_confusion",
    "kg_overlap_analysis", "kg_oov_tokens", "kg_bigram_topk",
    "kg_cooccurrence", "kg_doc_stats", "kg_tokenize_topk", "kg_word_shapes",
    "kg_tag_split", "kg_qa_contexts", "kg_prediction_diff",
    "text_token_stats", "text_quality", "text_lang_id", "text_fingerprint",
    "dedup_exact", "dedup_simhash", "dedup_components",
    "kg_linked_triples", "pipeline_triples", "sample_stratified",
    "kg_eval_accuracy", "sample_hash", "sample_kshot", "sample_kpartition",
]

FAMILIES = ["mention_contexts", "scheme_rewrite", "ngram_jaccard",
            "minhash_lsh", "lsh_jaccard", "simhash_pairs", "fixed",
            "ann_cosine", "ann_signlsh", "emb_near_dup"]


# ---------------------------------------------------------------------------
# corpus generation

def gen_embedding_rows(rng: random.Random, dim: int = 64) -> list[tuple]:
    """Random embeddings with the edge cases real encoder output has:
    ZERO vectors (failed encodes / padding), exact duplicates, scaled
    copies (same direction, cosine 1.0 ties), and tiny-magnitude noise."""
    n = rng.randint(40, 90)
    rows: list[tuple] = []
    prev: list[float] | None = None
    for vec_id in range(n):
        r = rng.random()
        if r < 0.06:
            emb = [0.0] * dim                      # zero vector
        elif r < 0.18 and prev is not None:
            emb = list(prev)                       # exact duplicate
        elif r < 0.26 and prev is not None:
            emb = [x * 2.0 for x in prev]          # scaled copy (cos=1)
        elif r < 0.32:
            emb = [rng.uniform(-1e-6, 1e-6) for _ in range(dim)]
        else:
            emb = [rng.uniform(-1.0, 1.0) for _ in range(dim)]
        # float32 round-trip so both engines read identical values
        import struct

        emb = [struct.unpack("f", struct.pack("f", x))[0] for x in emb]
        prev = emb
        rows.append((vec_id, emb, rng.randint(0, 4)))
    return rows


def gen_corpus_rows(rng: random.Random) -> list[tuple]:
    n_docs = rng.randint(30, 100)
    rows = []
    prev_tokens: list[str] | None = None
    for doc_id in range(n_docs):
        r = rng.random()
        if r < 0.03:
            text = None                     # NULL text (extraction failed)
        elif r < 0.06:
            text = ""                       # empty document
        elif r < 0.09:
            text = "   "                    # whitespace-only
        elif r < 0.30 and prev_tokens:
            # near-duplicate of the previous doc: mutate one token
            toks = list(prev_tokens)
            toks[rng.randrange(len(toks))] = rng.choice(POOL)
            text = " ".join(toks)
        else:
            toks = [rng.choice(POOL) for _ in range(rng.randint(1, 40))]
            # occasional double space — the \S+ tokenizer must agree on it
            sep = "  " if rng.random() < 0.1 else " "
            text = sep.join(toks)
        prev_tokens = text.split() if text else None
        rows.append((doc_id, text, rng.choice(LANGS), "fuzz",
                     len(text) if text is not None else None))
    return rows


def make_fuzz_dir(
    tmpdir: str,
    rows: list[tuple],
    emb_rows: list[tuple] | None = None,
) -> str:
    """Write fuzz documents (and optionally embeddings) parquet; symlink
    every other base table."""
    fuzzed = {"documents.parquet"} | (
        {"embeddings.parquet"} if emb_rows is not None else set()
    )
    for name in os.listdir(BASE_SF_DIR):
        if name not in fuzzed and not name.startswith("."):
            dst = os.path.join(tmpdir, name)
            if not os.path.exists(dst):
                os.symlink(os.path.join(BASE_SF_DIR, name), dst)
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([r[4] for r in rows], pa.int64()),
    })
    pq.write_table(table, os.path.join(tmpdir, "documents.parquet"))
    if emb_rows is not None:
        et = pa.table({
            "vec_id": pa.array([r[0] for r in emb_rows], pa.int64()),
            "embedding": pa.array([r[1] for r in emb_rows],
                                  pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in emb_rows], pa.int32()),
        })
        pq.write_table(et, os.path.join(tmpdir, "embeddings.parquet"))
    return tmpdir


# ---------------------------------------------------------------------------
# settings

def draw_setting(rng: random.Random) -> dict:
    fam = rng.choice(FAMILIES)
    s: dict = {"family": fam, "data_seed": rng.randrange(2**31)}
    if fam == "mention_contexts":
        s["left"] = sorted(rng.sample(range(1, 7), rng.randint(1, 4)))
        s["right"] = sorted(rng.sample(range(0, 6), rng.randint(1, 4)))
        s["threshold"] = rng.randint(1, 6)
    elif fam == "scheme_rewrite":
        s["scheme"] = rng.choice(["bio", "bo", "bioe", "bioes"])
    elif fam == "ngram_jaccard":
        s["k"] = rng.randint(1, 4)
        s["threshold"] = rng.choice([0.2, 0.3, 0.5, 0.7])
    elif fam == "minhash_lsh":
        s["k"] = rng.randint(1, 3)
        s["n_hashes"], s["bands"] = rng.choice([(8, 4), (16, 8), (16, 4),
                                                (12, 4), (32, 8)])
    elif fam == "lsh_jaccard":
        s["k"] = rng.randint(1, 3)
        s["threshold"] = rng.choice([0.3, 0.5, 0.7])
        s["n_hashes"], s["bands"] = rng.choice([(8, 4), (16, 8), (12, 4)])
    elif fam == "simhash_pairs":
        s["max_hamming"] = rng.choice([1, 3, 7])
    elif fam in ("ann_cosine", "ann_signlsh"):
        s["n_queries"] = rng.randint(3, 12)
        s["k"] = rng.randint(1, 8)
    elif fam == "emb_near_dup":
        s["threshold"] = rng.choice([0.8, 0.9, 0.95])
    else:
        s["name"] = rng.choice(FIXED_DOC_QUERIES)
    return s


def build_pair(spark, sf_dir: str, s: dict, cleanup: list):
    """Return (label, spark_df, oracle_sql) for a drawn setting."""
    fam = s["family"]
    docs = Q.load(spark, sf_dir, "documents")
    if fam == "mention_contexts":
        return (
            f"mention_contexts l={s['left']} r={s['right']} t={s['threshold']}",
            Q.q_kg_mention_contexts(spark, sf_dir, s["left"], s["right"],
                                    s["threshold"]),
            Q.kg_mention_contexts_sql(s["left"], s["right"], s["threshold"]),
        )
    if fam == "scheme_rewrite":
        return (
            f"scheme_rewrite {s['scheme']}",
            Q.q_kg_scheme_rewrite(spark, sf_dir, s["scheme"]),
            Q.kg_scheme_rewrite_sql(s["scheme"]),
        )
    if fam == "ngram_jaccard":
        return (
            f"ngram_jaccard k={s['k']} t={s['threshold']}",
            dedup.ngram_jaccard_pairs(docs, s["k"], s["threshold"]),
            dedup.ngram_jaccard_pairs_sql("documents", s["k"], s["threshold"]),
        )
    if fam == "minhash_lsh":
        return (
            f"minhash_lsh k={s['k']} h={s['n_hashes']} b={s['bands']}",
            dedup.minhash_lsh_pairs(docs, s["k"], s["n_hashes"], s["bands"],
                                    cleanup=cleanup),
            dedup.minhash_lsh_pairs_sql("documents", s["k"], s["n_hashes"],
                                        s["bands"]),
        )
    if fam == "lsh_jaccard":
        return (
            f"lsh_jaccard k={s['k']} t={s['threshold']} "
            f"h={s['n_hashes']} b={s['bands']}",
            dedup.lsh_verified_jaccard(docs, s["k"], s["threshold"],
                                       s["n_hashes"], s["bands"],
                                       cleanup=cleanup),
            dedup.lsh_verified_jaccard_sql("documents", s["k"],
                                           s["threshold"], s["n_hashes"],
                                           s["bands"]),
        )
    if fam == "simhash_pairs":
        return (
            f"simhash_pairs d={s['max_hamming']}",
            dedup.simhash_pairs(docs, max_hamming=s["max_hamming"],
                                cleanup=cleanup),
            dedup.simhash_pairs_sql("documents",
                                    max_hamming=s["max_hamming"]),
        )
    if fam == "ann_cosine":
        from split_ner_spark.ops import simsearch

        embs = Q.load(spark, sf_dir, "embeddings")
        return (
            f"ann_cosine q={s['n_queries']} k={s['k']}",
            simsearch.cosine_topk(embs, s["n_queries"], s["k"]),
            simsearch.cosine_topk_sql("embeddings", s["n_queries"], s["k"]),
        )
    if fam == "ann_signlsh":
        from split_ner_spark.ops import simsearch

        embs = Q.load(spark, sf_dir, "embeddings")
        return (
            f"ann_signlsh q={s['n_queries']} k={s['k']}",
            simsearch.lsh_cosine_topk(embs, s["n_queries"], s["k"]),
            simsearch.lsh_cosine_topk_sql("embeddings", s["n_queries"],
                                          s["k"]),
        )
    if fam == "emb_near_dup":
        from split_ner_spark.ops import simsearch

        embs = Q.load(spark, sf_dir, "embeddings")
        return (
            f"emb_near_dup t={s['threshold']}",
            simsearch.embedding_near_dup_pairs(embs, s["threshold"]),
            simsearch.embedding_near_dup_pairs_sql("embeddings",
                                                   s["threshold"]),
        )
    name = s["name"]
    return (f"fixed:{name}", Q.QUERIES[name](spark, sf_dir), Q.ORACLES[name])


def run_setting(spark, tmpdir: str, s: dict) -> tuple[str, str | None]:
    """Run one setting; returns (label, error-or-None)."""
    rng = random.Random(s["data_seed"])
    emb_rows = (
        gen_embedding_rows(rng)
        if s["family"] in ("ann_cosine", "ann_signlsh", "emb_near_dup")
        else None
    )
    sf_dir = make_fuzz_dir(tmpdir, gen_corpus_rows(rng), emb_rows)
    cleanup: list = []
    label, sdf, sql = build_pair(spark, sf_dir, s, cleanup)
    try:
        scols = list(sdf.columns)
        srows = [tuple(r) for r in sdf.collect()]
        con = duckdb.connect()
        try:
            for t in Q.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir}/{t}.parquet'"
                )
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        finally:
            con.close()
    finally:
        for df in cleanup:
            df.unpersist()
        Q.drain_cache()
    if sorted(scols) != sorted(ocols):
        return label, f"columns differ: spark={sorted(scols)} duck={sorted(ocols)}"
    sn, sh = frame_fingerprint(scols, srows)
    on, oh = frame_fingerprint(ocols, orows)
    if sn != on:
        return label, f"row counts differ: spark={sn} duck={on}"
    if sh != oh:
        return label, f"value hash differs over {sn} rows"
    return label, None


def coverage_of(settings: list[dict]) -> dict:
    """Per-family coverage summary (VERDICT r4 next-round #7): how many
    settings a sweep actually drew per family and over which parameter
    values, so a reader can see which families/edge-cases were exercised
    — a sweep where rng starvation left a family at 0 draws is visible
    instead of silently capped."""
    cov: dict[str, dict] = {}
    for s in settings:
        fam = s["family"]
        c = cov.setdefault(fam, {"n": 0, "params": {}})
        c["n"] += 1
        for k, v in s.items():
            if k in ("family", "data_seed"):
                continue
            c["params"].setdefault(k, []).append(v)
    for c in cov.values():
        c["params"] = {
            k: sorted(set(map(str, vs))) for k, vs in c["params"].items()
        }
    for fam in FAMILIES:
        cov.setdefault(fam, {"n": 0, "params": {}})
    return dict(sorted(cov.items()))


def fuzz(spark, n: int, seed: int, tmp_root: str, verbose: bool = True):
    """Run n random settings; returns (failures, drawn settings)."""
    import tempfile

    rng = random.Random(seed)
    failures = []
    settings = []
    for i in range(n):
        s = draw_setting(rng)
        settings.append(s)
        with tempfile.TemporaryDirectory(prefix="fuzz_", dir=tmp_root) as td:
            label, err = run_setting(spark, td, s)
        status = "FAIL " + err if err else "ok"
        if verbose:
            print(f"[{i + 1:3d}/{n}] seed={s['data_seed']:>10d} "
                  f"{label:<46s} {status}", flush=True)
        if err:
            failures.append((label, s, err))
    return failures, settings


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=25)
    ap.add_argument("--seed", type=int, default=20260817)
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    from split_ner_spark.session import get_spark

    spark = get_spark(app_name="fuzz-oracle", cpus=args.cpus,
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        failures, settings = fuzz(spark, args.n, args.seed, tmp_root=None)
    finally:
        spark.stop()
    import json

    report = {
        "n_settings": args.n,
        "seed": args.seed,
        "coverage_per_family": coverage_of(settings),
        "failures": [
            {"label": label, "setting": s, "err": err}
            for label, s, err in failures
        ],
    }
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "FUZZ_REPORT.json"), "w") as fh:
        json.dump(report, fh, indent=2)
    if failures:
        print(f"\n{len(failures)} FAILING SETTINGS:")
        for label, s, err in failures:
            print(f"  {label}: {err}\n    repro: {s}")
        return 1
    print(f"\nall {args.n} settings green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
