"""Deduplication operators (training-data pipeline tier, SURVEY.md §2.7).

The reference has no dedup (its `trip_id` keys are unique by construction
— FIXTURES.md §A1); this module supplies the dedup family a 100 TB
training-data pipeline needs, each as a declarative DataFrame plan:

- **exact** — hash-groupBy on (normalized) content; one shuffle on the
  content hash, map-side partial aggregation shrinks it first.
- **n-gram Jaccard** (exact near-dup) — PPJoin-style set-similarity
  join: rarest-first prefix-filtered inverted index (only each doc's
  ``(1−t)·|A|+1`` globally-rarest shingles are indexed) + length filter
  + exact-Jaccard verification of candidates.  Candidate volume is
  Σ(prefix-posting²), immune to Zipf-heavy boilerplate shingles whose
  full posting lists would go quadratic.
- **MinHash + LSH** — per-doc signature (k permutations via seeded
  xxhash64), banded into buckets; candidate pairs come from bucket
  collisions only (linear shuffle), then exact-Jaccard verification.
  Probability a pair with Jaccard j collides: 1-(1-j^r)^b.
- **SimHash** — 32-bit sign-aggregated token-hash fingerprint; near-dups
  land within small Hamming distance.  Bits are derived from md5 hex
  nibbles so the DuckDB oracle reproduces them exactly.
- **embedding cosine** — see operators/similarity.py (pair variant
  registered in plans/training.py).

All hot paths are JVM built-ins (split/explode/xxhash64/md5/array ops);
no Python UDFs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from real_time_trip_processing_project_spark.functions import rolling as RK

#: Word-shingle width for near-dup detection.
SHINGLE_W = 3

#: MinHash signature size and LSH banding (16 bands × 4 rows).
MINHASH_PERMS = 64
LSH_BANDS = 16
LSH_ROWS = MINHASH_PERMS // LSH_BANDS


def word_shingles(text_col, w: int = SHINGLE_W):
    """Distinct word w-shingles of a text column as array<string>.

    Pure codegen expression: split → sequence → transform(concat_ws of
    w direct element lookups) → array_distinct.  Direct ``element_at``
    indexing instead of slice+array_join skips one array allocation per
    shingle (~25% faster shingling at sf0.1).  Matches the DuckDB
    oracle's list comprehension; out-of-range lookups at the tail of a
    short doc concat to the same truncated shingle the oracle's slice
    produces.
    """
    toks = F.split(F.trim(text_col), r"\s+")
    n = F.size(toks)
    # Progressive zip of w shifted copies: sh[i] = toks[i] ⧺ toks[i+1] ⧺ …
    # Free variables inside HOF lambdas are re-evaluated PER ELEMENT
    # (higher-order functions are interpreted, no codegen CSE), so the
    # naive transform(sequence, i -> f(toks, i)) re-splits the text once
    # per shingle — O(len·shingles).  zip_with binds its array arguments
    # once per row, keeping this O(len·w).
    sh = toks
    for k in range(1, w):
        shifted = F.slice(toks, k + 1, F.greatest(n - k, F.lit(0)))
        # zip_with pads the shorter side with NULL; concat_ws skips NULLs,
        # so tail elements become the same truncated shingles the
        # oracle's list-slice comprehension produces
        sh = F.zip_with(sh, shifted, lambda x, y: F.concat_ws(" ", x, y))
    return F.array_distinct(F.slice(sh, 1, F.greatest(n - (w - 1), F.lit(1))))


def word_bigrams(text_col):
    """ALL word 2-grams (non-distinct, no truncated tail) — the raw
    material for repetition statistics, where multiplicity is the
    signal.  Same zip_with binding as :func:`word_shingles` (free
    variables in HOF lambdas re-evaluate per element), one shifted copy,
    exact n−1 grams (empty array for single-word docs)."""
    toks = F.split(F.trim(text_col), r"\s+")
    n = F.size(toks)
    shifted = F.slice(toks, 2, F.greatest(n - 1, F.lit(0)))
    grams = F.zip_with(toks, shifted, lambda x, y: F.concat_ws(" ", x, y))
    return F.slice(grams, 1, F.greatest(n - 1, F.lit(0)))


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document bigram repetition statistics — ``(id, n_grams,
    n_distinct, max_c)`` for every doc with ≥1 bigram — as a MAP-ONLY
    Arrow kernel: tokenize + Counter per document inside each batch,
    emit four ints per doc.

    This replaces the explode → groupBy(doc, gram) → groupBy(doc) shape
    whose gram exchange was the sf10 probe's heaviest linear constant
    (r13 SCALE.md: 66.9 s at sf10 — the shuffle carries every bigram
    string).  The statistics are per-document, so no cross-row state is
    needed at all: ZERO shuffle, and the output is one narrow row per
    doc.  All four stats are exact integers — kernel/expression parity
    is pinned in tests (same discipline as winnowing/text_fingerprint:
    hot gram paths run as Arrow kernels, the expression form stays as
    the parity twin).

    Tokenization is Python ``str.split()`` ≡ the expression form's
    ``split(trim(text), '\\s+')`` and the oracle's
    ``string_split_regex`` on whitespace-delimited text (the
    udtf_tokenize precedent — pinned against the expression form on the
    fixture).  Docs with <2 tokens produce no bigrams and are absent
    from the output, matching the explode form."""
    from collections import Counter

    from real_time_trip_processing_project_spark.sources.readers import (
        spread_small_input,
    )

    id_type = docs.schema[id_col].dataType.simpleString()

    def run(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, ng, nd, mx = [], [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = (text or "").strip().split()
                if len(toks) < 2:
                    continue
                c = Counter(zip(toks, toks[1:]))
                ids.append(did)
                ng.append(len(toks) - 1)
                nd.append(len(c))
                mx.append(max(c.values()))
            yield pd.DataFrame(
                {"id": ids, "n_grams": ng, "n_distinct": nd, "max_c": mx}
            )

    return spread_small_input(docs.select(id_col, text_col)).mapInPandas(
        run, f"id {id_type}, n_grams long, n_distinct long, max_c long"
    )


def shingled_docs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, shingles, n_shingles) per document.

    Shingling is the CPU-dominant scan-stage step of every consumer
    (Jaccard, MinHash); a single-split local fixture is spread across
    cores first (no-op at real input-split counts — see
    sources/readers.py:spread_small_input)."""
    from real_time_trip_processing_project_spark.sources.readers import (
        spread_small_input,
    )

    return spread_small_input(docs).select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col)).alias("shingles"),
    ).withColumn("n_sh", F.size("shingles").cast("long"))


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: canonical (min-id) representative per distinct text.

    GroupBy on md5(text) — the shuffle key is the 32-char hash, not the
    document body, so shuffle volume is O(rows · 32B) regardless of doc
    size.  At 100 TB this is the cheapest possible exact dedup: one
    shuffle, map-side partial min/count.
    """
    return docs.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.min(id_col).alias("canonical_id"),
        F.count("*").alias("n_copies"),
    )


def _verify_pairs(
    cand: DataFrame, sh: DataFrame, threshold: float, big: bool = False
) -> DataFrame:
    """Exact-Jaccard verification of narrow (id_a, id_b) candidate pairs
    against pre-shingled (id, shingles, n_sh) rows.

    Two equi-joins by id pull each side's (already computed) shingle set
    onto the candidate row; wide array payloads are joined only for
    candidates — orders of magnitude fewer than the corpus — and never
    travel through the candidate-generation shuffle.

    ``big`` pins both joins to sort-merge (r16 sf10 probe finding): in
    the big prefix regime the candidate set is tens of millions of
    (id, id) rows whose SHUFFLE bytes compress under the 64 MB
    auto-broadcast threshold, so AQE happily broadcasts it — but the
    deserialized hash relation is ~1 GB and is held across BOTH verify
    joins: run 1 completed 155 s with GCLocker retry warnings, run 2 in
    the same 16 g JVM died with "Not enough memory to build and
    broadcast".  Same size-conditional discipline as ``pair_join``
    (small regimes keep AQE's broadcast, which wins there); the minhash
    verify caller keeps the default — its banded candidate set is
    output-scale, not corpus-scale.
    """
    if big:
        cand = cand.hint("merge")
    sh_a = sh.select(
        F.col("id").alias("id_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    sh_b = sh.select(
        F.col("id").alias("id_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    half = cand.join(sh_a, "id_a")
    if big:
        # A join-strategy hint binds only to the nearest join above the
        # hinted subtree, so the first hint covers the sh_a join only;
        # re-hint the intermediate result to pin the sh_b join too
        # (r17, ADVICE r16 — previously SMJ-by-size, now guaranteed).
        half = half.hint("merge")
    paired = (
        half.join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("common"),
            "n_a",
            "n_b",
        )
    )
    jac = F.col("common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("common")
    ).cast("double")
    return (
        paired.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_prefix_candidates(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    l: int = 1,
) -> DataFrame:
    """PPJoin candidate pairs (id_a < id_b): every pair that can reach
    Jaccard ≥ t, generated from a **prefix-filtered** inverted index.

    Shingles are ranked per doc by global document frequency ascending
    (computed over, and tie-broken by, the int64 shingle hash — one
    deterministic global preorder for the whole corpus, with rank()
    including boundary ties; see :func:`_prefix_candidates`); only the
    first ``|A| − ⌈t·|A|⌉ + 1`` shingles of each doc are indexed.  Soundness (the classic prefix-filter lemma): the
    candidate join also applies the length filter ``t·|B| ≤ |A| ≤
    |B|/t``, under which a qualifying pair has overlap
    c ≥ t(|A|+|B|)/(1+t) ≥ ⌈t·|X|⌉ for BOTH sides, and two sets whose
    overlap is ≥ that must intersect within those prefixes.

    This is what bounds the join at 100 TB: a boilerplate shingle shared
    by millions of docs has df so high it lands in almost no doc's
    rarest-first prefix, so its posting list never goes quadratic —
    candidate volume is Σ df_prefix(s)², not Σ df(s)².  Costs one extra
    narrow groupBy (the df table) and a per-doc window rank over
    postings, both linear.
    """
    sh = shingled_docs(docs, id_col, text_col)
    return _prefix_candidates(sh, threshold, l=l)


def _prefix_candidates(
    sh: DataFrame, threshold: float, l: int = 1, big: bool = False
) -> DataFrame:
    """Candidate join over pre-shingled (id, shingles, n_sh) rows.

    ``big`` — corpus is above :data:`_PREFIX_L2_MIN_DOCS` (the caller
    already counts rows to pick ``l``): pins the candidate self-join to
    sort-merge.  Above that size AQE's runtime choice measured ~1.4×
    slower at sf10 (and a pinned shuffle-hash OOM'd building 32
    concurrent per-partition hash maps); below it, broadcast is right
    and the pin would cost ~0.5 s, so small corpora stay unpinned.

    ``l`` selects the prefix-scheme order (the AdaptJoin l-prefix
    family, Wang et al., SIGMOD 2012): a qualifying pair — overlap
    c ≥ ⌈t·max(|A|,|B|)⌉ ≥ l — must share at least ``l`` tokens within
    each side's ``|X| − ⌈t·|X|⌉ + l`` rarest-first prefix.  (Proof of
    the lemma: the suffix holds each side's c − l GLOBALLY LARGEST
    tokens, so if any of the l smallest intersection elements sat in a
    suffix, the ≥ l intersection elements guaranteed inside that side's
    prefix would all be strictly smaller — making it at least the
    (l+1)-th smallest, a contradiction; hence the l smallest
    intersection elements lie in BOTH prefixes.)

    - ``l=1`` indexes single shingles: minimal index, but candidate
      enumeration is Σ df_prefix(s)² — QUADRATIC in corpus size on
      closed-vocabulary corpora, where every shingle's df (including
      the rarest) grows ∝ N (measured r13: 93× runtime for 10× data at
      sf10, Σdf² = 4.0e9).
    - ``l=2`` indexes ordered PAIRS of prefix shingles (one extra
      prefix token, C(p,2) ≈ 60 keys/doc): a candidate must share TWO
      prefix shingles, so enumeration is Σ df(s₁,s₂)² over pair
      co-occurrence — 33× smaller at sf10 (1.2e8) and far flatter in N.
      Docs whose overlap bound is below 2 (⌈t·n⌉ < 2, i.e. single-
      shingle docs at t ≥ 0.5) cannot carry a 2-token requirement;
      they are routed through the l=1 join against every doc's
      1-prefix — a vanishing slice (their qualifying partners are
      length-filtered to ≤ |A|/t shingles).

    Both orders produce a SUPERSET of the qualifying pairs (verified
    exactly afterwards), so the final output is identical — pinned by
    ``test_prefix_l2_candidates_match_l1`` and the registered query's
    O(N²) DuckDB oracle."""
    # Shingle strings are hashed to int64 AT THE EXPLODE (r18, VERDICT
    # r17 item 2 "int-hashed tokens end-to-end"): every downstream
    # exchange of the index build — the df groupBy, the posting⋈df
    # join, and the per-doc window sort — previously carried (and the
    # window SORTED) ~100-byte gram strings; now they all move 8-byte
    # keys.  r15 measured the same narrowing on just the pair-key join
    # at 4× (139 s → 33 s sf10); this applies it to the remaining three
    # string exchanges.
    #
    # Exactness, in two parts, up to one hash-collision case:
    # - JOIN keys: hashing an equi-join key can only merge key groups —
    #   a SUPERSET of the string-keyed candidates, all exact-Jaccard
    #   verified against the full shingle sets afterwards.  The one
    #   loss: prefixes are built over the HASHES, so if two distinct
    #   shingles in a qualifying pair's prefix overlap collide in
    #   xxhash64, the pair's docs count them as one token and the pair
    #   can drop out of the candidates.  Over n distinct shingles the
    #   chance of any collision is about n²/2⁶⁴ (~5e-8 at n = 10⁶).
    # - PREFIX ORDERING: tokens are ordered by the global preorder
    #   (df(hsh), hsh) and positioned with ``rank()`` (not row_number).
    #   The prefix lemma holds for ANY global token preorder — df is a
    #   selectivity heuristic, never a soundness condition — provided
    #   every token tied at the prefix boundary is INCLUDED: rank()
    #   gives all tied tokens the lowest position, so a tie (possible
    #   only when two distinct grams collide in xxhash64 AND df — the
    #   one case where a per-doc row_number could order them
    #   inconsistently across docs and lose a pair) only ever WIDENS
    #   the prefix.  Superset again; verification makes it exact.
    posting = sh.select(
        "id", "n_sh", F.explode("shingles").alias("shingle")
    ).select("id", "n_sh", F.xxhash64("shingle").alias("hsh"))
    dfreq = posting.groupBy("hsh").agg(F.count("*").alias("df"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("id").orderBy("df", "hsh")
    # ranked is consumed EXACTLY ONCE per scheme (the l=1 self-join's
    # two sides collapse into one computation via ReusedExchange; the
    # l=2 residual tier reads sh directly, see below) — so no
    # materialization: a localCheckpoint here would strip size
    # statistics and invite the wrong-side-broadcast class (r14
    # pagerank; reproduced here at sf10 as a 1 GiB broadcast build).
    ranked = posting.join(dfreq, "hsh").withColumn(
        "pos", F.rank().over(w)
    )
    # ⌈t·n⌉ computed with a 1e-9 slack: t is a binary double, so the
    # product can land marginally ABOVE the exact rational ⌈t·n⌉
    # boundary (e.g. 0.7·10 → 7.000000000000001) and an unslacked
    # ceil would overshoot, shrinking the prefix by one shingle and
    # silently dropping a qualifying pair.  The slack can only widen
    # the prefix (more candidates, never fewer) — lossless.
    c_min = F.ceil(F.col("n_sh") * F.lit(threshold) - F.lit(1e-9))
    prefix1 = ranked.filter(
        F.col("pos") <= F.col("n_sh") - c_min + 1
    ).select("id", "n_sh", "hsh")

    def pair_join(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
        # Self-join of one index relation: both sides carry identical
        # plans, so the exchange is computed once and reused
        # (ReusedExchange).  Small corpora leave the strategy to
        # AQE (broadcast wins there); big ones pin sort-merge — see
        # the ``big`` docstring note.
        if big:
            left = left.hint("merge")
        a, b = left.alias("a"), right.alias("b")
        cond = (F.col("a.id") < F.col("b.id")) & (
            # length filter: |B| ∈ [t·|A|, |A|/t]
            F.col("b.n_sh") * F.lit(threshold) <= F.col("a.n_sh")
        ) & (F.col("a.n_sh") * F.lit(threshold) <= F.col("b.n_sh"))
        for k in keys:
            cond &= F.col(f"a.{k}") == F.col(f"b.{k}")
        return (
            a.join(b, cond)
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )

    if l == 1:
        return pair_join(prefix1, prefix1, ["hsh"])
    if l != 2:  # pragma: no cover - guarded API edge
        raise ValueError(f"unsupported prefix order l={l}")

    # l = 2: unordered shingle-pair keys from the (…+2)-prefix of every
    # doc whose overlap bound supports a 2-token requirement.  Keys are
    # struct(least, greatest) over the two token HASHES — pair
    # enumeration is long arithmetic in the HOF (the old string-concat
    # form allocated a ~200-byte key per pair in the interpreter), and
    # the join sorts 16-byte structs.
    eligible = ranked.filter(c_min >= 2)
    prefix2 = eligible.filter(
        F.col("pos") <= F.col("n_sh") - c_min + 2
    ).select("id", "n_sh", F.col("hsh").alias("h")).groupBy(
        "id"
    ).agg(
        F.first("n_sh").alias("n_sh"),
        F.collect_list("h").alias("pref"),
    )
    pair_keys = prefix2.select(
        "id",
        "n_sh",
        F.explode(
            F.expr(
                "flatten(transform(pref, (x, i) -> "
                "transform(slice(pref, i + 2, size(pref)), y -> "
                "struct(least(x, y) AS k1, greatest(x, y) AS k2))))"
            )
        ).alias("pk"),
    )
    if big:
        # Pre-flight disk guard (r15 sf30 probe): the candidate join's
        # output is EXACTLY Σ cnt(pk)² rows before the id/length
        # filters, and on closed-vocabulary corpora that sum grows
        # quadratically in corpus size (measured on the fixture:
        # 1.22e8 at 500 k docs → 8.65e8 at 1.5 M docs, 7.1× for 3×
        # docs) — at sf30 the join's shuffle spill exceeded the
        # box's 70 GB free disk and died mid-stage with "No space left
        # on device".  One aggregate over the persisted index converts
        # that into an immediate, actionable error naming the designed
        # 100 TB path.  DISK_ONLY persist makes the guard pass nearly
        # free (the join re-reads ~3 GB instead of recomputing the
        # window/rank pipeline) and keeps size stats for the planner.
        from pyspark import StorageLevel

        pair_keys = pair_keys.persist(StorageLevel.DISK_ONLY)
        fan = (
            pair_keys.groupBy("pk")
            .count()
            .agg(F.sum(F.col("count") * F.col("count")).alias("fan"))
            .first()["fan"]
            or 0
        )
        if fan > _MAX_CANDIDATE_ROWS:
            # Release the DISK_ONLY index before raising — persists
            # stay registered in the CacheManager until session end,
            # and a failed guard should not leave gigabytes of index
            # cached in a session that will retry differently (r17,
            # ADVICE r16).
            pair_keys.unpersist()
            raise ValueError(
                f"jaccard_pairs: prefix candidate fan-out Σ cnt(pair-key)²"
                f" = {fan:,} rows exceeds the"
                f" {_MAX_CANDIDATE_ROWS:,}-row budget (≈32 B/row of"
                " shuffle before spill amplification).  This corpus is"
                " too collision-dense for EXACT pairwise verification —"
                " use minhash_lsh_pairs / dedup_minhash_lsh (the designed"
                " 100 TB near-dup path; recall ≥ 0.95 floor, measured"
                " 1.0 on this fixture) or raise"
                " SPARK_GRAFT_MAX_CAND_ROWS on a fleet with more"
                " aggregate shuffle disk."
            )
    cand_big = pair_join(pair_keys, pair_keys, ["pk"])

    # Residual tier: docs that cannot owe a 2-token match (⌈t·n⌉ < 2,
    # i.e. |A| ≤ 1/t) join their WHOLE shingle set against the whole
    # shingle sets of every doc SMALL ENOUGH to be their partner — the
    # length filter bounds a qualifying partner at |B| ≤ |A|/t ≤ 1/t²,
    # so both sides come STRAIGHT from sh with no df/rank dependency
    # (whole sets ⊇ the 1-prefixes this tier previously probed: a
    # candidate superset, exact after verification).  This is what
    # lets ranked stay single-consumer above — the old prefix1 probe
    # side re-executed the whole df join + window a second time
    # (measured sf10: the restructure + hashed keys took the candidate
    # stage 206 s → ~95 s and dedup_clusters 271 s → 132 s).
    # Normalize to id_a < id_b afterwards since the tiny doc may sit
    # on either side of the ordered pair.
    def whole_post(frame: DataFrame) -> DataFrame:
        return frame.select(
            "id", "n_sh", F.explode("shingles").alias("shingle")
        ).select("id", "n_sh", F.xxhash64("shingle").alias("hsh"))

    tiny_c_min = F.ceil(F.col("n_sh") * F.lit(threshold) - F.lit(1e-9))
    small_post = whole_post(sh.filter(tiny_c_min < 2))
    probe_post = whole_post(
        sh.filter(
            F.col("n_sh") * F.lit(threshold * threshold)
            <= F.lit(1.0) + F.lit(1e-9)
        )
    )
    s, p1 = small_post.alias("a"), probe_post.alias("b")
    cand_small = (
        s.join(
            p1,
            (F.col("a.hsh") == F.col("b.hsh"))
            & (F.col("a.id") != F.col("b.id"))
            & (F.col("b.n_sh") * F.lit(threshold) <= F.col("a.n_sh"))
            & (F.col("a.n_sh") * F.lit(threshold) <= F.col("b.n_sh")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand_big.unionByName(cand_small).dropDuplicates(["id_a", "id_b"])


#: Corpus size above which :func:`jaccard_pairs` switches from the
#: 1-token to the 2-token prefix scheme.  Measured r13 (same session,
#: min-of-2): at 5 k docs l=1 wins (1.14 vs 1.53 s — pair-key generation
#: overhead), at 50 k docs l=2 wins 1.9× (5.9 vs 11.0 s), at 500 k docs
#: l=2 wins 5.8× (174.5 vs 1019.5 s, where l=1's Σ df_prefix² candidate
#: enumeration has gone quadratic).  The boundary sits between the first
#: two points; 20 k splits it with margin on both sides.
_PREFIX_L2_MIN_DOCS = 20_000

#: Corpus size above which the candidate self-join is PINNED to
#: sort-merge (r15): at 500 k docs AQE's runtime pick measured ~1.4×
#: slower than pinned SMJ (180 → 132 s for dedup_clusters at sf10) and
#: a pinned shuffle-hash OOM'd; at 50 k docs the pin costs ~0.4 s over
#: letting AQE broadcast.  Between the measured points; an order of
#: magnitude above the l=2 crossover.
_PREFIX_PIN_MIN_DOCS = 200_000

#: Candidate-row budget for the exact pairwise join (guard active only
#: in the big regime).  Σ cnt(pair-key)² IS the join's pre-filter output
#: row count; at ~32 B/row the default bounds the candidate shuffle at
#: ~8 GB before spill amplification — the sf10 fixture (1.22e8) clears
#: it 2×, the quadratically-densified sf30 fixture (8.65e8) fails fast
#: instead of dying mid-stage on exhausted shuffle disk.  Env-tunable
#: for fleets with real aggregate disk.
_MAX_CANDIDATE_ROWS = int(
    os.environ.get("SPARK_GRAFT_MAX_CAND_ROWS", str(250_000_000))
)


def jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    l: int | None = None,
    docs_rows: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs: PPJoin prefix-filtered
    candidate generation + exact verification.

    Plan: one shingle pass → global shingle-df table → rarest-first
    per-doc prefixes (:func:`jaccard_prefix_candidates`) → prefix
    self-join with length filtering → exact Jaccard on the surviving
    candidates only (:func:`_verify_pairs`).  Every shuffled candidate
    row is two ids; shingle arrays are re-derived just for candidate
    docs in the verify step.

    Scale: the prefix filter is the Zipf guard — without it one
    boilerplate sentence shared corpus-wide makes a posting list whose
    self-join is quadratic; with it, high-df shingles drop out of the
    index entirely (they can never be among a doc's ``(1−t)·|A|+1``
    rarest), so candidate volume tracks genuinely-similar pairs.

    The shingled corpus is localCheckpointed so the (CPU-dominant)
    shingle pass runs once and feeds candidate generation AND both
    verify sides — on a cluster this is the usual
    persist(MEMORY_AND_DISK) of a set-similarity join's tokenized
    relation; recomputing instead is also correct, just 3× the string
    work.

    ``l`` (default auto): prefix-scheme order — see
    :func:`_prefix_candidates`.  ``None`` picks it cost-based from the
    corpus row count (:data:`_PREFIX_L2_MIN_DOCS`): the 1-token index
    below the measured crossover, the 2-token pair-key index above it,
    where the single-token Σ df² enumeration goes quadratic on
    closed-vocabulary corpora (r13: 93×-per-10× at 500 k docs; the
    pair-key scheme measured 5.8× faster there with identical output).
    Both orders are exact — the choice moves work, never answers.

    ``docs_rows`` — caller-known corpus row count; passing it skips the
    auto-selection ``docs.count()`` action (which re-executes the whole
    upstream plan when ``docs`` is an unpersisted derived frame).
    """
    sh = shingled_docs(docs, id_col, text_col).localCheckpoint(eager=False)
    n = docs_rows if docs_rows is not None else docs.count()
    if l is None:
        l = 2 if n > _PREFIX_L2_MIN_DOCS else 1
    big = n > _PREFIX_PIN_MIN_DOCS
    cand = _prefix_candidates(sh, threshold, l=l, big=big)
    return _verify_pairs(cand, sh, threshold, big=big)


#: Universal-hash permutation constants (h_i = (a_i·h + b_i) mod P over a
#: 32-bit base hash).  Seeded Python RNG on the driver — deterministic,
#: shipped as literals, no executor RNG state.
_MH_PRIME = 4_294_967_311  # smallest prime > 2^32

_HEXD = "0123456789abcdef"


def _h32(col):
    """32-bit integer from the first 8 hex nibbles of md5 — the
    engine-portable shingle hash (same nibble arithmetic family as the
    Bloom/CMS sketches, so DuckDB reproduces every value exactly;
    replaces xxhash64, which has no DuckDB twin).  Value < 2^32, so
    ``a·h`` with a < 2^31 stays under 2^63.

    Spark computes it as ``conv(substring(md5, 1, 8), 16, 10)`` — one
    base conversion instead of the 8 instr/substring nibble scans the
    DuckDB twin (:func:`h32_sql`) uses; both are the same definition
    (value of the first 8 hex digits), pinned per-value by the
    ``test_h32_spark_matches_python`` fuzz and end-to-end by the full
    ``dedup_minhash_lsh`` oracle hash."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def h32_sql(s: str) -> str:
    """DuckDB twin of :func:`_h32` over an expression ``s``."""
    terms = " + ".join(
        f"(strpos('{_HEXD}', substr(md5({s}), {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"({terms})"


def _mh_params(n: int = MINHASH_PERMS, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    # a < 2^31 keeps a·h (h < 2^32) under 2^63 — no signed-64 overflow
    return [
        (rng.randrange(1, 1 << 31), rng.randrange(0, _MH_PRIME))
        for _ in range(n)
    ]


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sig: array<long>[MINHASH_PERMS]) MinHash via universal hashing.

    Each shingle is hashed ONCE (md5-nibble → 32-bit base); the k
    "permutations" are linear transforms ``(aᵢ·h + bᵢ) mod P`` — cheap
    long arithmetic instead of k string hashes, and no per-permutation
    intermediate arrays.  Plan: explode shingles → one hash per
    (id, shingle) → groupBy(id) with k ``min`` aggregates.  Map-side
    partial aggregation means the shuffle carries k·8 bytes per doc, not
    the shingle set; a_i·h fits in 63 bits (32-bit h, 32-bit aᵢ) so the
    modular arithmetic is exact.
    """
    sh = shingled_docs(docs, id_col, text_col)
    return _minhash_from_sh(sh)


def _minhash_from_sh(sh: DataFrame) -> DataFrame:
    """Signatures from pre-shingled (id, shingles, n_sh) rows — Arrow
    numpy kernel, shuffle-FREE.

    One ``mapInPandas`` pass: per DISTINCT shingle in the task, md5
    once (hashlib — byte-identical to ``F.md5``; a per-task memo
    dedupes, which a Zipf vocabulary rewards heavily), take the first
    4 digest bytes as the 32-bit base (= :func:`_h32` — the first 8
    hex nibbles ARE the first 4 bytes), apply all 64 universal
    transforms ``(a·h + b) mod P`` as one broadcasted int64 matrix,
    and reduce per-doc minima with ``np.minimum.reduceat``.  (r15
    A/B: hashing JVM-side via ``transform(shingles, _h32)`` to ship
    longs across Arrow measured SLOWER at sf10/sf30 — the interpreted
    HOF re-computes md5 for every duplicate occurrence, which the memo
    avoids; the memo variant took sf30 113 → 87 s.)  Values are
    BIT-IDENTICAL to the expression form (kept as
    :func:`_minhash_from_sh_expr`, fuzz-pinned by
    ``test_minhash_kernel_matches_expr_form``): P < 2³² and a < 2³¹
    keep a·h + b < 2⁶³, so int64 arithmetic is exact in both.

    Why a kernel at all: the expression form explodes to one row per
    (doc, shingle) and runs a 64-buffer hash aggregate over the
    blow-up — measured as the dominant cost of the LSH pipeline.  The
    kernel is row-in/row-out (no explode, no exchange), and chunks its
    (shingles × 64) transform matrix so one Arrow batch of long
    documents cannot balloon task memory."""
    import numpy as np
    import pandas as pd

    params = np.asarray(_mh_params(), dtype=np.int64)
    A, B = params[:, 0], params[:, 1]
    out_schema = "id long, n_sh long, sig array<long>"

    def run(batches):
        import hashlib

        md5 = hashlib.md5
        from_bytes = int.from_bytes
        # Per-task memo: the base hash depends only on the shingle
        # string, and shingle vocabularies are Zipf-repetitive, so each
        # DISTINCT shingle is hashed once.  Capped by an approximate
        # BYTE budget, not entry count — one worker runs per core, and
        # 4 M multi-word shingle strings is ~0.5–1 GB of retained
        # Python objects per worker (ADVICE r15).  64 MB of string
        # payload per task keeps the whole executor's memo footprint
        # ~2 GB worst case at 32 cores; an open (non-Zipf) vocabulary
        # degrades to the uncached cost instead of ballooning memory.
        memo: dict[str, int] = {}
        memo_bytes = 0
        MEMO_BYTE_BUDGET = 64 * 1024 * 1024

        def h32(s: str) -> int:
            nonlocal memo_bytes
            v = memo.get(s)
            if v is None:
                v = from_bytes(md5(s.encode("utf-8")).digest()[:4], "big")
                if memo_bytes < MEMO_BYTE_BUDGET:
                    memo[s] = v
                    # ~len(s) payload + ~80 B object/dict-slot overhead
                    memo_bytes += len(s) + 80
            return v

        for pdf in batches:
            keep = pdf["n_sh"] > 0
            pdf = pdf[keep]
            if not len(pdf):
                yield pd.DataFrame({"id": [], "n_sh": [], "sig": []}).astype(
                    {"id": "int64", "n_sh": "int64"}
                )
                continue
            counts = pdf["n_sh"].to_numpy(dtype=np.int64)
            flat = np.fromiter(
                (
                    h32(s)
                    for shingles in pdf["shingles"]
                    for s in shingles
                ),
                dtype=np.int64,
                count=int(counts.sum()),
            )
            offsets = np.concatenate([[0], np.cumsum(counts)[:-1]])
            # chunk docs so the (n_shingles × 64) int64 matrix stays
            # ≤ ~100 MB however long the batch's documents are
            sigs: list[np.ndarray] = []
            doc_edges = np.concatenate([offsets, [len(flat)]])
            start_doc = 0
            while start_doc < len(counts):
                end_doc = start_doc
                total = 0
                while end_doc < len(counts) and (
                    total == 0 or total + counts[end_doc] <= 200_000
                ):
                    total += counts[end_doc]
                    end_doc += 1
                lo, hi = doc_edges[start_doc], doc_edges[end_doc]
                m = (flat[lo:hi, None] * A[None, :] + B[None, :]) % _MH_PRIME
                local_off = doc_edges[start_doc:end_doc] - lo
                sigs.append(np.minimum.reduceat(m, local_off, axis=0))
                start_doc = end_doc
            sig = np.concatenate(sigs)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(dtype=np.int64),
                    "n_sh": counts,
                    "sig": list(sig),
                }
            )

    return sh.mapInPandas(run, out_schema)


def _minhash_from_sh_expr(sh: DataFrame) -> DataFrame:
    """Expression-form twin of :func:`_minhash_from_sh` (explode →
    64-min hash aggregate) — kept as the JVM reference the kernel is
    fuzz-compared against, and as the shape a SQL-only deployment would
    use."""
    hashed = sh.select(
        "id", "n_sh", F.explode("shingles").alias("s")
    ).select(
        "id",
        "n_sh",
        _h32(F.col("s")).alias("h"),
    )
    mins = hashed.groupBy("id").agg(
        F.first("n_sh").alias("n_sh"),
        *[
            F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(_MH_PRIME)).alias(
                f"m{i}"
            )
            for i, (a, b) in enumerate(_mh_params())
        ],
    )
    return mins.select(
        "id",
        "n_sh",
        F.array(*[F.col(f"m{i}") for i in range(MINHASH_PERMS)]).alias("sig"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_rows: int | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard verification.

    1. signature → LSH_BANDS band keys.
    2. explode band keys → groupBy (band, key) buckets → pairs within a
       bucket (dropDuplicates on the pair — a pair can collide in
       several bands).
    3. verify candidates with exact Jaccard on the (carried) shingle
       sets and filter ≥ threshold.

    Band-key hash: ``xxhash64`` over the band's 4 signature longs.  The
    DuckDB oracle keys its buckets with md5-of-string instead — that is
    FINE, because bucket values never reach the output: pairs depend
    only on band-key EQUALITY, which both hashes decide identically
    (same 4-long slice ⇒ same key; different slices collide with
    ~2⁻⁶⁴ / 2⁻¹²⁸ probability, and a spurious candidate is killed by
    the exact-Jaccard verify anyway).  xxhash64 takes the longs
    directly — no 4-way string concat, no digest, and an 8-byte join
    key through the bucket shuffle instead of a 32-char string (the r6
    bench's top headline cost was exactly this md5-per-band
    projection).

    Scale: candidates ≪ N²; the bucket join shuffles only colliding ids.
    The shingled corpus is localCheckpointed once and feeds both the
    signature pass and the exact verification joins — no second shingle
    pass over the corpus.  Recall for Jaccard=0.9 with 16×4 banding:
    1-(1-0.9⁴)¹⁶ ≈ 1.0000 (tested against the exact operator in
    tests/test_training_tier.py).

    Big-regime pin (r17 sweep for the narrow-huge broadcast class —
    r14 pagerank / r15 triangle / r16 verify-stage all died the same
    way): past :data:`_PREFIX_PIN_MIN_DOCS` the band self-join is
    pinned sort-merge — its (id, band, bucket) sides are 16× the
    corpus in NARROW rows, which compress under the 64 MB
    auto-broadcast threshold long after the deserialized hash relation
    stops fitting the heap.  Small corpora keep AQE's broadcast.
    ``docs_rows`` skips the sizing ``count()`` when the caller knows it.
    """
    sh = shingled_docs(docs, id_col, text_col).localCheckpoint(eager=False)
    big = (
        docs_rows if docs_rows is not None else docs.count()
    ) > _PREFIX_PIN_MIN_DOCS
    sigs = _minhash_from_sh(sh)
    # narrow band index: (id, band, bucket) — signatures and shingle
    # arrays stay out of the candidate shuffle
    bands = sigs.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.col("sig")[i]
                            for i in range(b * LSH_ROWS, (b + 1) * LSH_ROWS)
                        ]
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )
    if big:
        bands = bands.hint("merge")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # verify deliberately NOT big-pinned: the banded candidate set is
    # OUTPUT-scale (true near-dups), not corpus-scale — broadcasting it
    # into the verify joins is the winning plan at every measured SF
    return _verify_pairs(cand, sh, threshold)


#: SimHash banding: 32 bits → 4 bands of 8.  By pigeonhole, any pair with
#: Hamming distance ≤ 3 matches exactly in at least one band.
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 8
SIMHASH_MAX_HAMMING = SIMHASH_BANDS - 1


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_rows: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Candidate generation: split each 32-bit simhash into 4 byte-bands
    and self-join on (band, value) — pigeonhole guarantees every pair
    within distance 3 collides in ≥1 band, so recall is exact (not
    probabilistic).

    Each band row CARRIES its full simhash, so the ``bit_count(a XOR
    b)`` Hamming test runs IN-FLIGHT on the band join's output:
    collision pairs that fail the distance cut die inside the join
    stage without ever being shuffled.  An 8-bit band's candidate
    stream is O(n²/256) on a large corpus — filtering before the
    pair-dedup shuffle (instead of after two verify back-joins) is
    what keeps this shape alive at scale; only true near-dups, orders
    of magnitude fewer, reach ``dropDuplicates``.  The signature
    relation is checkpointed once for the join's two sides (the
    minhash ``sh`` discipline).

    Big-regime pin (r17 narrow-huge sweep): the band sides are 4× the
    corpus in narrow (id, simhash, band, val) rows ABOVE A STATS-LESS
    CHECKPOINT — exactly the r14 wrong-side-broadcast class — so past
    :data:`_PREFIX_PIN_MIN_DOCS` the self-join is pinned sort-merge;
    small corpora keep AQE's broadcast.  ``docs_rows`` skips the sizing
    ``count()`` when the caller knows it.
    """
    big = (
        docs_rows if docs_rows is not None else docs.count()
    ) > _PREFIX_PIN_MIN_DOCS
    sims = simhash_docs(docs, id_col, text_col).localCheckpoint(
        eager=False
    )
    bands = sims.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * SIMHASH_BAND_BITS).bitwiseAND(
                        F.lit((1 << SIMHASH_BAND_BITS) - 1)
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "val"),
    )
    if big:
        bands = bands.hint("merge")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def cc_star_contraction(
    pairs: DataFrame, max_iterations: int = 25
) -> tuple[DataFrame, int]:
    """Large-star/small-star connected components (the MapReduce CC of
    Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) over undirected (id_a, id_b) pairs.

    Each round:

    - **large-star**: every node u points its *larger* neighbors at
      ``m(u) = min(Γ(u) ∪ {u})`` — computed as a window min over the
      bidirectional edge list, no adjacency collect.
    - **small-star**: every node u points its smaller neighbors (and
      itself) at its minimum neighbor.

    Both are one shuffle (window by node) + distinct; edges strictly
    shrink toward star graphs rooted at each component's minimum, and
    the round count is O(log n) even on path graphs — unlike min-label
    propagation, whose rounds equal the graph *diameter* (a long
    duplicate chain at crawl scale stalls it).  Convergence = the
    small-star output equals its input — probed with each round's edge
    count carried to the next round (one count job per round, not two)
    plus a short-circuited subset check (both sets are distinct, so
    equal counts + ss ⊆ edges ⇔ equality) on locally-checkpointed,
    lineage-truncated edge sets.

    Returns (star edges ``(root, node)`` with root < node, rounds used,
    converged flag).  When ``converged`` is False the edges are NOT yet
    stars — callers needing the one-root-per-node contract must
    collapse (see :func:`connected_components`).
    """
    edges = (
        pairs.filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("lo"),
            F.greatest("id_a", "id_b").alias("hi"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    from pyspark.sql.window import Window

    rounds = 0
    converged = False
    n_edges = edges.count()
    for _ in range(max_iterations):
        rounds += 1
        # large-star over the bidirectional view: m = min(Γ(u) ∪ {u});
        # larger neighbors v > u re-attach to m (m ≤ u < v keeps the
        # (lo, hi) orientation canonical with no self-loops)
        bi = edges.select(
            F.col("lo").alias("u"), F.col("hi").alias("v")
        ).unionByName(
            edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        wu = Window.partitionBy("u")
        ls = (
            bi.withColumn("m", F.least(F.min("v").over(wu), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .distinct()
        )
        # small-star over (hi → its smaller neighbors): m = min neighbor;
        # each smaller neighbor and hi itself attach to m
        wh = Window.partitionBy("hi")
        sm = ls.withColumn("m", F.min("lo").over(wh))
        ss = (
            sm.select(F.col("m").alias("lo"), F.col("hi"))
            .unionByName(
                sm.filter(F.col("lo") != F.col("m")).select(
                    F.col("m").alias("lo"), F.col("lo").alias("hi")
                )
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_ss = ss.count()
        if n_ss == n_edges and ss.exceptAll(edges).isEmpty():
            edges = ss
            converged = True
            break
        edges, n_edges = ss, n_ss
    return edges, rounds, converged


def connected_components(
    pairs: DataFrame, max_iterations: int = 25
) -> DataFrame:
    """Duplicate clusters from near-dup pairs: (doc_id, canonical_id)
    where canonical is the min id reachable through the pair graph —
    via :func:`cc_star_contraction` (O(log n) rounds; a min-label
    propagation needs diameter rounds and stalls on long chains).

    Only nodes that appear in a pair are returned (singletons are their
    own cluster trivially and would dominate the output).

    Output contract — one canonical_id per doc_id — holds
    unconditionally: if the contraction hits ``max_iterations`` without
    converging, the edges are not yet stars and a node may still carry
    several labels, so the non-converged path collapses to the minimum
    label per node (one extra groupBy; correct-but-possibly-non-minimal
    canonicals, same as a truncated min-label propagation) and warns.
    """
    stars, rounds, converged = cc_star_contraction(pairs, max_iterations)
    out = (
        stars.select(
            F.col("hi").alias("doc_id"), F.col("lo").alias("canonical_id")
        )
        .unionByName(
            stars.select(
                F.col("lo").alias("doc_id"), F.col("lo").alias("canonical_id")
            )
        )
        .distinct()
    )
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: star contraction not converged after "
            f"{rounds} rounds; collapsing to min label per node"
        )
        out = out.groupBy("doc_id").agg(
            F.min("canonical_id").alias("canonical_id")
        )
    return out


def simhash_docs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash: bigint) 32-bit SimHash over distinct ws-tokens.

    Explode distinct tokens → md5 per token → 32 ±1 bit votes → groupBy
    doc summing votes → sign-recombine.  One shuffle on the doc id; the
    32 sums travel as map-side partials.  Bits come from md5 hex nibbles
    (functions/text.py) so the DuckDB oracle is bit-identical.
    """
    from real_time_trip_processing_project_spark.functions import text as TX

    from real_time_trip_processing_project_spark.sources.readers import (
        spread_small_input,
    )

    toks = spread_small_input(docs).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
        ).alias("tok"),
    ).withColumn("h32", TX.simhash_h32_expr(F.md5("tok")))
    bit_votes = TX.simhash_bit_exprs(F.col("h32"))
    sums = toks.groupBy("id").agg(
        *[F.sum(v).alias(f"b{i}") for i, v in enumerate(bit_votes)]
    )
    return sums.select(
        "id",
        TX.simhash_from_bit_sums(
            [F.col(f"b{i}") for i in range(len(bit_votes))]
        ).alias("simhash"),
    )


#: Winnowing parameters (Schleimer et al., MOSS): k-gram size and
#: minimizer window.  Density ≈ 2/(W+1); any shared character run of
#: length ≥ WINNOW_W + WINNOW_K − 1 is GUARANTEED to share at least one
#: fingerprint — the detection floor is a parameter, not luck.
#: Gram hashing is the Karp–Rabin polynomial (functions/rolling.py):
#: pure integer MACs in codegen, no digests, no string allocation —
#: AND still DuckDB-oracle-checkable (the r5 md5 version's production
#: note assumed those were mutually exclusive; they are not).
WINNOW_K = 24
WINNOW_W = 16

#: Boilerplate cap: a fingerprint appearing in more than this many docs
#: (licence headers, navigation chrome) is dropped before the pair join
#: — the posting-list cap that keeps Zipf-heavy spans from going
#: quadratic, standard in every crawl-scale span-dedup deployment.
WINNOW_MAX_POSTINGS = 50


def winnow_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = WINNOW_K, w: int = WINNOW_W,
) -> DataFrame:
    """(doc_id, fp) winnowing fingerprints — Arrow-vectorized default.

    Karp–Rabin polynomial hash of every k-char gram
    (functions/rolling.py constants), then the minimum hash of each
    w-gram window (Schleimer et al.'s minimizer scheme), one output row
    per distinct fingerprint.  Computed in ``mapInPandas`` as numpy
    int64 kernels: codepoints via a single UTF-32 reinterpret, gram
    hashes as k shifted multiply–accumulates, the sliding min as an
    O(n log w) doubling ladder of ``np.minimum`` — all C loops over
    primitive arrays.

    Why not pure SQL expressions?  The semantics ARE expressible as
    builtin array HOFs (see :func:`winnow_fingerprints_expr`, kept as
    the cross-engine parity twin and fuzz-checked identical), but Spark
    evaluates HOF lambdas interpreted with per-element boxing — measured
    ~6 s at sf0.1 for the minimizer ladder alone vs <0.5 s for this
    Arrow path computing the very same integers.  This is exactly the
    sanctioned fallback: vectorized Arrow batches, never per-row Python.
    Map-only (no shuffle); scales linearly and partitions-parallel at
    100 TB.  Docs shorter than ``k + w − 1`` chars yield no fingerprints
    (they cannot contain a guaranteed-detectable span)."""
    import numpy as np
    import pandas as pd

    id_type = docs.schema[id_col].dataType.simpleString()
    pows, mod = RK.kr_pows(k), RK.KR_MOD
    p2 = 1 << (w.bit_length() - 1)

    def gen(batches):
        for pdf in batches:
            rep_ids, fp_arrays = [], []
            for did, t in zip(pdf[id_col].tolist(), pdf[text_col].tolist()):
                if t is None:
                    continue
                g = len(t) - k + 1
                if g < w:
                    continue
                codes = np.frombuffer(
                    t.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                # Σ_j (code[i+j]·B^{k-1-j} mod M): each term < 2^63,
                # each residue < 2^42, sum of k residues < 2^47 — one
                # final mod, no intermediate overflow (rolling.py).
                h = np.zeros(g, dtype=np.int64)
                for j, p in enumerate(pows):
                    h += (codes[j : j + g] * p) % mod
                h %= mod
                lvl, d = h, 1
                while d < p2:
                    lvl = np.minimum(lvl[:-d], lvl[d:])
                    d *= 2
                if w != p2:
                    off = w - p2
                    lvl = np.minimum(lvl[: g - w + 1], lvl[off : off + g - w + 1])
                else:
                    lvl = lvl[: g - w + 1]
                fps = np.unique(lvl)
                fp_arrays.append(fps)
                rep_ids.append(np.repeat(did, len(fps)))
            if fp_arrays:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(rep_ids),
                        "fp": np.concatenate(fp_arrays),
                    }
                )

    from real_time_trip_processing_project_spark.sources.readers import (
        spread_small_input,
    )

    sel = spread_small_input(docs.select(id_col, text_col))
    return sel.mapInPandas(gen, schema=f"doc_id {id_type}, fp bigint")


def winnow_fingerprints_expr(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = WINNOW_K, w: int = WINNOW_W,
) -> DataFrame:
    """Pure-expression twin of :func:`winnow_fingerprints` (JVM array
    HOFs, no Python) — the cross-engine parity reference: the same
    shape DuckDB's oracle SQL evaluates.  Row-identical to the Arrow
    path (fuzz-asserted); slower on Spark because HOF lambdas evaluate
    interpreted with per-element boxing.

    The sliding-window min is a sparse-table doubling ladder, NOT the
    naive per-position ``array_min(slice(hs, j, w))`` (that form is
    O(n·w) with a fresh w-element array allocation per position).
    Level j holds the window-2^j min; a non-power-of-two w takes one
    extra combine at offset w−2^⌊log2 w⌋.  Each level is materialized
    as a real column so no level is re-evaluated.  zip_with pads the
    shorter (shifted) side with NULL and ``least`` skips NULLs, so
    trailing entries are partial-window mins — sliced off by the final
    ``greatest(n − w + 1, 0)`` truncation."""
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(RK.codes_spark(text_col)).alias("cs"),
    ).select(
        "doc_id",
        F.expr(RK.gram_hashes_spark("cs", k)).alias("hs"),
    )
    p, cur, d = 1 << (w.bit_length() - 1), "hs", 1
    while d < p:
        nxt = f"l{d * 2}"
        out = out.withColumn(
            nxt,
            F.expr(
                f"zip_with({cur}, slice({cur}, {d + 1}, "
                f"greatest(size({cur}) - {d}, 0)), "
                f"(x, y) -> least(x, y))"
            ),
        )
        cur, d = nxt, d * 2
    if w != p:  # combine two power-of-two windows overlapping at w − p
        out = out.withColumn(
            f"l{w}",
            F.expr(
                f"zip_with({cur}, slice({cur}, {w - p + 1}, "
                f"greatest(size({cur}) - {w - p}, 0)), "
                f"(x, y) -> least(x, y))"
            ),
        )
        cur = f"l{w}"
    return out.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(f"slice({cur}, 1, greatest(size(hs) - {w - 1}, 0))")
            )
        ).alias("fp"),
    )


def common_span_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = WINNOW_K, w: int = WINNOW_W,
    max_postings: int = WINNOW_MAX_POSTINGS,
    max_pair_rows: int | None = None,
) -> DataFrame:
    """Cross-document exact-span dedup: pairs of docs sharing at least
    one winnowing fingerprint — i.e. a verbatim character run of length
    ≥ k (guaranteed for runs ≥ w+k−1).  The span-level complement of
    whole-document similarity (Jaccard/MinHash): a doc that embeds one
    copied paragraph in otherwise fresh text is invisible to global
    similarity but lights up here.

    Plan: fingerprint scan (map-only) → posting-list groupBy with the
    boilerplate cap → fp-keyed self-join of capped postings → pair
    aggregation.  Shuffle volume is Σ postings² per surviving fp,
    bounded by the cap; no all-pairs shape anywhere.

    ``max_pair_rows`` (r17, verdict item 3): opt-in pre-flight budget
    for callers that feed the pair graph into ITERATIVE shuffles
    (BFS/pagerank).  Σ sᵢ(sᵢ−1) over surviving posting lists is the
    EXACT doubled pre-distinct pair-row count — one driver scalar off
    the posting aggregate, BEFORE any pair is enumerated, so on a
    closed-vocab corpus that densifies toward ~1e9 edges (the sf100
    ENOSPC, SCALE.md r16) the raise lands right after the linear
    fingerprint scan instead of after the multi-GB pair shuffle.  It
    upper-bounds the doubled DISTINCT edge count (exact when no pair
    shares two fingerprints), and is itself proportional to the pair
    enumeration's shuffle — the resource that fills first."""
    fps = winnow_fingerprints(docs, id_col, text_col, k, w)
    capped = (
        fps.groupBy("fp")
        .agg(F.collect_set("doc_id").alias("ids"))
        .filter(F.size("ids") <= max_postings)
        .filter(F.size("ids") >= 2)
    )
    if max_pair_rows is not None:
        from pyspark import StorageLevel

        capped = capped.persist(StorageLevel.DISK_ONLY)
        vol = (
            capped.agg(
                F.sum(
                    F.size("ids").cast("long")
                    * (F.size("ids").cast("long") - 1)
                ).alias("v")
            ).first()["v"]
            or 0
        )
        if vol > max_pair_rows:
            capped.unpersist()
            raise ValueError(
                f"common_span_pairs: posting lists imply {vol:,} doubled"
                f" pair rows — past the {max_pair_rows:,}-row budget the"
                " caller set for iterative consumption (BFS/pagerank"
                " re-shuffle the edge frame every round; measured ENOSPC"
                " at sf100, SCALE.md r16).  Remediations: cluster first"
                " and process per-component like triangle_count_clustered,"
                " lower WINNOW_MAX_POSTINGS (boilerplate spans dominate"
                " dense corpora), or raise SPARK_GRAFT_MAX_GRAPH_EDGES on"
                " a fleet with more aggregate shuffle disk."
            )
    pairs = capped.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, a -> "
                "transform(filter(ids, b -> b > a), b -> struct(a, b))))"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared_fps"))
    )
