"""Deterministic synthetic Common-Crawl-style corpus with planted entities.

Produces the exact ``input_hint`` schema from BASELINE.json:
``pages(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``
plus an analytically-known ``gold`` column (planted mentions) from which
golden mentions / golden triples derive — no external data, seed-stable,
and a pure function of the page id (so identical under any partitioning,
any parallelism, and across runs: the per-page RNG is seeded from a string
``"page-{seed}-{id}"`` which CPython hashes with sha512, independent of
PYTHONHASHSEED).

Reference analog: the bundled miniature corpus ``data/dummy/`` that the
reference uses for end-to-end verification (/root/reference/README.md:24-31);
here the corpus is generated instead of bundled, and the goldens are known
by construction rather than hand-annotated.

Design knobs (SURVEY §7.1 M0 / FIXTURES.md F1):
- Zipf-ish entity skew: rank = floor(K**u) gives P(rank r) ∝ ln(1+1/r),
  so the hottest entity covers ~10%+ of mentions → exercises hot-subject
  salting in the triple write.
- ~1.5% of planted mentions are lowercased (detector will miss → FN) and
  ~1.5% of sentences carry a capitalized fake bigram (detector fires → FP),
  so the end-to-end P/R lands ~0.97-0.99 — above the 0.95 gate but far from
  trivially 1.0, keeping the F1 machinery honest.
- ≥5% of pages contain non-ASCII surfaces/fillers (byte-identity test).
- 8% of pages are non-English (lang pushdown-filter test; no gold there).
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .reference_impl import tokenize

SEED = 42
N_ENTITIES = 120

_FIRST = [
    "Alice", "Bob", "Carol", "David", "Emma", "Frank", "Grace", "Henry",
    "Irene", "Jack", "Katya", "Liang", "Maria", "Noor", "Omar", "Priya",
]
_LAST = [
    "Smith", "Jones", "Müller", "Chen", "García", "Novak", "Okafor",
    "Petrov", "Tanaka", "Weber",
]
_CORP = [
    "Acme", "Globex", "Initech", "Umbrella", "Vandelay", "Stark",
    "Cyberdyne", "Tyrell", "Aperture", "Hooli",
]
_CORP_SUFFIX = ["Corp", "Inc", "Ltd", "GmbH", "Corporation"]
_LOC_FIXED = ["Paris", "Tokyo", "Zürich", "Oslo", "Cairo", "Mumbai", "Lima", "Quito"]
_LOC_STEM = ["Iron", "Silver", "Crystal", "Maple", "Cedar", "Falcon"]
_LOC_SUFFIX = ["City", "Valley", "Island", "Harbor"]
_PROD_BRAND = ["Widget", "Router", "Sensor", "Drone", "Turbine"]
_GROUP_STEM = ["Crimson", "Azure", "Golden", "Velvet"]
_GROUP_SUFFIX = ["Team", "Collective", "Orchestra", "Band"]
_CW_ADJ = ["Crimson", "Silent", "Endless", "Broken", "Hidden"]
_CW_NOUN = ["Saga", "Chronicle", "Voyage", "Garden", "Mirror"]

FILLERS_EN = (
    "the quick data table row scan batch merge sort window value key part "
    "query filter group join stream vector column order line small big fast "
    "slow hash agg spark café über naïve"
).split()
FILLERS_OTHER = {
    "de": "der die das und oder aber schnell langsam tabelle zeile wert straße".split(),
    "fr": "le la les et ou mais vite lent table ligne valeur clé".split(),
    "zh": "数据 表格 行 列 查询 合并 排序 窗口 值 键".split(),
}
FAKE_CAP = ["Zorblax", "Quuxton", "Fnordic", "Blivetar", "Snarfel", "Grumbly"]

# _gen_page's slim cell encoding (filler == bare str) folds the neighbor
# test "payload is None and first-char islower" into "is a filler cell";
# that is only sound while every en filler starts lowercase and every
# fake-entity token starts uppercase. Raise (not assert): must survive -O.
if not all(f[:1].islower() for f in FILLERS_EN) or not all(
    c[:1].isupper() for c in FAKE_CAP
):
    raise AssertionError("corpus filler/fake-cap case invariant violated")


def _inlined_randbelow_ok() -> bool:
    """_gen_page's filler draw inlines CPython's private ``_randbelow``
    (getrandbits(n.bit_length()) until < n); compare it with
    ``_randbelow`` on a cloned Random, for the filler-list sizes."""
    ours = random.Random(SEED)
    ref = random.Random()
    ref.setstate(ours.getstate())
    for n in {len(FILLERS_EN), *map(len, FILLERS_OTHER.values())}:
        k = n.bit_length()
        for _ in range(32):
            r = ours.getrandbits(k)
            while r >= n:
                r = ours.getrandbits(k)
            if r != ref._randbelow(n):
                return False
    return True


# a change to that private algorithm would silently change the golden
# corpus. Raise (not assert): must survive -O.
if not _inlined_randbelow_ok():
    raise AssertionError("inlined getrandbits draw differs from Random._randbelow")


def build_registry(seed: int = SEED) -> list[dict]:
    """Deterministic entity registry: canonical_id, entity_type, surfaces
    (each surface pre-tokenized with the reference tokenizer), plus which
    surfaces are 'fuzzy' (absent from the alias dictionary → LSH path)."""
    rng = random.Random(f"registry-{seed}")
    entities: list[dict] = []

    def add(etype: str, main: str, aliases: list[str], fuzzy: list[str]):
        cid = etype[:4] + ":" + main.lower().replace(" ", "_")
        entities.append(
            {
                "canonical_id": cid,
                "entity_type": etype,
                "surfaces": [main] + aliases,
                "fuzzy_surfaces": fuzzy,
            }
        )

    pairs = [(f, l) for f in _FIRST for l in _LAST]
    rng.shuffle(pairs)
    for f, l in pairs[:40]:
        add("person", f"{f} {l}", [], [])
    for name in _CORP:
        sfx = rng.choice(_CORP_SUFFIX)
        main = f"{name} {sfx}"
        aliases = [f"{name} {s}" for s in rng.sample(_CORP_SUFFIX, 2) if s != sfx]
        fuzzy = [f"{name}{sfx}"]  # concatenated variant → only LSH can link it
        add("corporation", main, aliases[:1], fuzzy)
    for loc in _LOC_FIXED:
        add("location", loc, [], [])
    for stem in _LOC_STEM:
        add("location", f"{stem} {rng.choice(_LOC_SUFFIX)}", [], [])
    for brand in _PROD_BRAND:
        for _ in range(4):
            model = f"{rng.choice('XRZQV')}{rng.randint(100, 999)}"
            add("product", f"{brand} {model}", [], [])
    for stem in _GROUP_STEM:
        add("group", f"{stem} {rng.choice(_GROUP_SUFFIX)}", [], [])
    for adj in _CW_ADJ:
        add("creative-work", f"The {adj} {rng.choice(_CW_NOUN)}", [], [])

    out = entities[:N_ENTITIES]
    for e in out:
        e["tok_surfaces"] = [tokenize(s) for s in e["surfaces"]]
        e["tok_fuzzy"] = [tokenize(s) for s in e["fuzzy_surfaces"]]
    return out


def alias_rows(registry: list[dict]) -> list[tuple[str, str, str]]:
    """(alias, canonical_id, entity_type) — the broadcastable dimension
    (FIXTURES.md F6). Fuzzy surfaces are deliberately excluded."""
    rows = []
    for e in registry:
        for s in e["surfaces"]:
            rows.append((s, e["canonical_id"], e["entity_type"]))
    return rows


GOLD_STRUCT = T.ArrayType(
    T.StructType(
        [
            T.StructField("sent_id", T.IntegerType()),
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
            T.StructField("surface", T.StringType()),
            T.StructField("entity_type", T.StringType()),
            T.StructField("canonical_id", T.StringType()),
        ]
    )
)

PAGES_GOLD_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("gold", GOLD_STRUCT),
    ]
)

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _gen_page(
    page_id: int, registry: list[dict], seed: int, mentions_only: bool = False
) -> dict:
    """One deterministic page.

    ``mentions_only=True`` (round 6, fused-pipeline fast path) returns
    ``{"url", "lang", "sents"}`` where ``sents`` is the per-sentence token
    lists — exactly ``segment(tokenize_fast(extract_text(None, text)))`` of
    the full page (pinned by tests/test_corpus_fastpath.py): every token is
    a single NFC tokenizer match, sentences are joined by single spaces and
    each ends with its own standalone ``"."``, so re-extract + re-tokenize +
    re-segment of the joined text is pure recomputation. The RNG draw
    sequence is IDENTICAL in both modes (every branch below draws the same
    stream); non-en pages return immediately — their rng is page-local and
    the fused consumer emits no rows for them."""
    rng = random.Random(f"page-{seed}-{page_id}")
    u = rng.random()
    if u < 0.92:
        lang = "en"
    elif u < 0.95:
        lang = "de"
    elif u < 0.98:
        lang = "fr"
    else:
        lang = "zh"
    if mentions_only and lang != "en":
        return {"url": None, "lang": lang, "sents": ()}
    fillers = FILLERS_EN if lang == "en" else FILLERS_OTHER[lang]
    k_ent_choices = [0, 1, 1, 1, 2] if lang == "en" else [0]
    n_sents = rng.randint(1, 8)
    all_tokens: list[str] = []
    gold: list[dict] = []
    sents: list[list[str]] = []
    n_reg = len(registry)
    # rng hot path (round 6): rng.choice dominates the per-page profile.
    # choice(seq) == seq[rng._randbelow(len(seq))] and
    # randint(a, b) == a + rng._randbelow(b - a + 1) by CPython's
    # implementation (random.py:235-370) — calling _randbelow directly
    # consumes the identical getrandbits stream (asserted page-identical
    # against the previous implementation over 4000 pages) while skipping
    # two method layers per draw. The filler draw goes one layer deeper:
    # _randbelow(n) == (r := getrandbits(k) until r < n) with
    # k = n.bit_length() (random.py:242-250) — inlined below with k
    # hoisted, same getrandbits stream.
    _rb = rng._randbelow
    _grb = rng.getrandbits
    _choice, _random = rng.choice, rng.random
    _nf = len(fillers)
    _kf = _nf.bit_length()
    for sent_id in range(n_sents):
        # a sentence is a list of cells; entity cells carry a gold payload,
        # so offsets are computed once, after all inserts — order-safe.
        # 10-28 filler tokens/sentence ≈ real web-page sentence lengths;
        # entity counts are independent of this, so text volume (python
        # extract/segment/detect work) scales without inflating the
        # mention/triple shuffle volume.
        # Cell encoding (round 6): a filler cell is the bare token str; an
        # inserted cell is (tokens, payload). insert_sep's neighbor test
        # "payload is None and first-char islower" is exactly "is a filler
        # cell": insert_sep only ever runs on en pages (k_ent_choices==[0]
        # and no FP branch otherwise), ALL en fillers are lowercase
        # (module-load assert below), every FAKE_CAP is capitalized and
        # every entity cell has payload != None.
        cells: list = []
        _ap = cells.append
        for _ in range(10 + _rb(19)):
            r = _grb(_kf)
            while r >= _nf:
                r = _grb(_kf)
            _ap(fillers[r])

        def insert_sep(cell: tuple[list[str], dict | None]) -> None:
            # keep planted multi-token runs non-adjacent so capitalized runs
            # map 1:1 to mentions; adjacent-run merging is a real detector
            # behavior but is pinned by unit tests, not by the golden corpus
            pos = _rb(len(cells) + 1)
            for _ in range(8):
                left_ok = pos == 0 or type(cells[pos - 1]) is str
                right_ok = pos == len(cells) or type(cells[pos]) is str
                if left_ok and right_ok:
                    break
                pos = _rb(len(cells) + 1)
            cells.insert(pos, cell)

        k_ent = k_ent_choices[_rb(len(k_ent_choices))]
        for _ in range(k_ent):
            rank = int(n_reg ** _random())  # Zipf-ish: P(r) ∝ ln(1+1/r)
            ent = registry[min(rank, n_reg) - 1]
            if ent["tok_fuzzy"] and _random() < 0.25:
                ent_toks = list(_choice(ent["tok_fuzzy"]))
            else:
                ent_toks = list(_choice(ent["tok_surfaces"]))
            if _random() < 0.015:  # FN noise: detector will miss these
                ent_toks = [t.lower() for t in ent_toks]
            payload = {
                "entity_type": ent["entity_type"],
                "canonical_id": ent["canonical_id"],
            }
            insert_sep((ent_toks, payload))
        if lang == "en" and _random() < 0.015:  # FP noise: fake entity
            fake = [_choice(FAKE_CAP), _choice(FAKE_CAP)]
            insert_sep((fake, None))
        if mentions_only:
            # flat token list per sentence — no offsets, no gold payloads
            flat: list[str] = []
            for cell in cells:
                if type(cell) is str:
                    flat.append(cell)
                else:
                    flat.extend(cell[0])
            flat.append(".")
            sents.append(flat)
            continue
        off = 0
        for cell in cells:
            if type(cell) is str:
                all_tokens.append(cell)
                off += 1
                continue
            toks, payload = cell
            if payload is not None:
                gold.append(
                    {
                        "sent_id": sent_id,
                        "start": off,
                        "end": off + len(toks) - 1,
                        "surface": " ".join(toks),
                        "entity_type": payload["entity_type"],
                        "canonical_id": payload["canonical_id"],
                    }
                )
            all_tokens.extend(toks)
            off += len(toks)
        all_tokens.append(".")
    if mentions_only:
        _rb(365 * 86400)  # ts draw (== randint(0, 365*86400-1)), value unused
        url = f"https://example{page_id % 20}.test/p{page_id:08d}-{_rb(4294967296):08x}"
        return {"url": url, "lang": lang, "sents": sents}
    text = " ".join(all_tokens)
    ts = _EPOCH + timedelta(seconds=rng.randint(0, 365 * 86400 - 1))
    html = ("<html><body><p>" + text + "</p></body></html>").encode("utf-8")
    url = f"https://example{page_id % 20}.test/p{page_id:08d}-{rng.randrange(16**8):08x}"
    return {
        "url": url,
        "warc_ts": ts.replace(tzinfo=None),
        "html": html,
        "text": text,
        "lang": lang,
        "gold": gold,
    }


# Pages per Python task of a page-id → mapInPandas generator stage. Two
# measured costs (PySpark 4.1.2, Python 3.11, 4-core VM) set it:
# - ~0.2 s fixed per Python task, outside the UDF body: the worker's
#   setup_spark_files calls importlib.invalidate_caches() on every task,
#   and on 3.11 that re-reads the directory of each cached zipimporter
#   (16 of them: pyspark.zip x12, the spark-core jar x2, py4j x2, ~26.7k
#   entries in all);
# - ~84 µs per page for the fused generate→detect→classify body (5,000
#   pages in 0.42 s serial); the full-page generator here is ~70 µs.
# The fixed cost stays at ~10% of a task's work once it carries
# 0.2 s / (0.10 x 84 µs) ≈ 23.8k pages (~12% for the full-page one).
PAGES_PER_TASK = 24_000


def generator_partitions(n_pages: int, cores: int) -> int:
    """Tasks for a page-id generator stage: whole waves of ``cores``
    tasks, as many as give each task ``PAGES_PER_TASK`` pages, clamped to
    1–4 waves. Small runs take one wave, because there the per-task fixed
    cost outweighs the work (4 tasks for 5,000 pages at 4 cores). Once the
    work dominates, runs take 4 waves, whose smaller tasks smooth the
    straggler tail (128 tasks for 20M pages at 32 cores)."""
    waves = -(-n_pages // (cores * PAGES_PER_TASK))
    return cores * min(max(waves, 1), 4)


def gen_pages_with_gold(
    spark: SparkSession, n_pages: int, seed: int = SEED, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic generation: ``spark.range`` → mapInPandas.

    The generator is a pure function of (seed, id); partitioning only
    affects parallelism, never content, and defaults to
    :func:`generator_partitions`. At 100 TB scale this is exactly how a
    synthetic load generator should run — no driver-side materialization.
    """
    registry = build_registry(seed)
    if partitions is None:
        partitions = generator_partitions(
            n_pages, spark.sparkContext.defaultParallelism
        )

    def gen(batches):
        for pdf in batches:
            rows = [_gen_page(i, registry, seed) for i in pdf["id"].tolist()]
            yield pd.DataFrame(rows)

    ids = spark.range(0, n_pages, 1, partitions)
    return ids.mapInPandas(gen, schema=PAGES_GOLD_SCHEMA)


def pages(df_with_gold: DataFrame) -> DataFrame:
    return df_with_gold.select("url", "warc_ts", "html", "text", "lang")


def gold_mentions(df_with_gold: DataFrame) -> DataFrame:
    """Exploded golden mentions (FIXTURES.md F3 shape + canonical_id)."""
    return (
        df_with_gold.filter(F.col("lang") == "en")
        .select("url", F.explode("gold").alias("g"))
        .select(
            "url",
            F.col("g.sent_id").alias("sent_id"),
            F.col("g.start").alias("start"),
            F.col("g.end").alias("end"),
            F.col("g.surface").alias("surface"),
            F.col("g.entity_type").alias("entity_type"),
            F.col("g.canonical_id").alias("canonical_id"),
        )
    )


def golden_triples(gold: DataFrame) -> DataFrame:
    """Analytic golden triples from planted mentions (FIXTURES.md F7).

    typed_as(canonical, type) + mentioned_in(canonical, url) +
    co_mentioned_with(a, b) for distinct canonical pairs in one sentence,
    ordered a < b.
    """
    typed = gold.select(
        F.col("canonical_id").alias("subj"),
        F.lit("typed_as").alias("pred"),
        F.col("entity_type").alias("obj"),
    ).distinct()
    mentioned = gold.select(
        F.col("canonical_id").alias("subj"),
        F.lit("mentioned_in").alias("pred"),
        F.col("url").alias("obj"),
    ).distinct()
    a = gold.select("url", "sent_id", F.col("canonical_id").alias("subj"))
    b = gold.select("url", "sent_id", F.col("canonical_id").alias("obj"))
    co = (
        a.join(b, ["url", "sent_id"])
        .filter(F.col("subj") < F.col("obj"))
        .select("subj", F.lit("co_mentioned_with").alias("pred"), "obj")
        .distinct()
    )
    return typed.unionByName(mentioned).unionByName(co)

