"""LLM-pipeline deduplication (SURVEY.md §2.11, mandate: "dedup").

Six formulations, each matched to its data regime (PERF.md has the
measurements that drove the designs):

- llm_dedup_exact — normalized content hash, combiner-shape aggregate.
- llm_dedup_near — dense regime (this corpus: ~25% of pairs >= 0.8
  unigram Jaccard): size-blocked exact join over token bitmasks with
  the Jaccard predicate inside the join condition.
- llm_dedup_minhash_lsh — sparse regime: seeded MinHash, r=2 banding,
  candidates ~linear in n, exact trigram-Jaccard verify.
- llm_dedup_near_ngram — posting-list exact trigram Jaccard (the
  LSH-free sub-quadratic formulation).
- llm_dedup_embed — embedding-cosine near-dup decision per vector.
- llm_dedup_clusters — connected components over the near-dup graph
  (iterative min-label propagation; canonical representative per doc).

SimHash fingerprint dedup lives in llm_text.llm_fingerprint_simhash.
All outputs are deterministic and hash-matched against DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hdfs_mr_spark import stats as corpus_stats
from hdfs_mr_spark.exprs import relax
from hdfs_mr_spark.io import fan_out, table
from hdfs_mr_spark.registry import query

_FAM = "2.11 llm dedup"


class ConcurrentPublishError(RuntimeError):
    """Raised when a version-pointer publish observes that _CURRENT
    moved while this writer was rewriting — a second writer committed
    in between, and overwriting its pointer would silently lose that
    commit."""


def cas_publish_current(store, version: str, expected: str | None) -> None:
    """Compare-and-swap publish of the ``_CURRENT`` version pointer
    (VERDICT r6 item 6): the pointer may only advance FROM the
    generation this writer read when it planned its rewrite. A
    mismatch means another writer published meanwhile; refuse rather
    than clobber (turning a silent lost-update into an error). The
    swap itself is an atomic ``os.replace``; the check-then-rename
    window is the documented residual race — the deployment contract
    is SINGLE scheduled maintenance writer, and a true multi-writer
    deployment would close the window with a lock service or an
    object store's conditional put, not with local-FS tricks."""
    import os

    cur_file = store / "_CURRENT"
    cur = cur_file.read_text().strip() if cur_file.exists() else None
    if cur != expected:
        raise ConcurrentPublishError(
            f"_CURRENT moved {expected!r} -> {cur!r} during rewrite; "
            f"refusing stale publish of {version!r}"
        )
    tmp = store / "_CURRENT.tmp"
    tmp.write_text(version)
    os.replace(tmp, cur_file)


@query(
    "llm_dedup_exact",
    oracle="""
WITH hashed AS (
  SELECT doc_id, lang, sha256(lower(trim(text))) AS content_hash FROM documents
)
SELECT content_hash,
       MIN(doc_id) AS kept_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM hashed
GROUP BY content_hash
ORDER BY kept_doc_id
""",
    family=_FAM,
)
def llm_dedup_exact(spark, sf_dir):
    """Exact text dedup on normalized content hash; keeps the lowest
    doc_id per hash (deterministic representative). Expressed as an
    aggregate, not distinct-on-wide-rows, so the shuffle carries
    (hash, min, count) — the combiner shape."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id", "lang",
            F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
        .orderBy("kept_doc_id")
    )


_NEAR_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.d1, i.d2, CAST(i.n_common AS INTEGER) AS n_common,
       CAST(i.n_common AS DOUBLE)
         / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes s1 ON i.d1 = s1.doc_id
JOIN sizes s2 ON i.d2 = s2.doc_id
WHERE CAST(i.n_common AS DOUBLE)
      / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) >= 0.8
ORDER BY d1, d2
"""


@query("llm_dedup_near", oracle=_NEAR_ORACLE, family=_FAM)
def llm_dedup_near(spark, sf_dir):
    """Near-dedup pair join on distinct-token Jaccard >= 0.8 — the dense
    stress case: this corpus draws every doc from a 31-word vocabulary,
    so ~25% of ALL pairs pass 0.8 and the output is Theta(n^2). No LSH
    scheme helps when every pair sits near the threshold (recall-1
    banding admits ~everything), so the scalable formulation is a
    *size-blocked exact join*: J >= 0.8 forces 5*min(|A|,|B|) >=
    4*max(|A|,|B|), so each doc equi-joins only its admissible size
    range.

    The exact-Jaccard predicate lives INSIDE the join condition and is
    evaluated on dictionary-encoded token BITMASKS, not string arrays:
    tokens get dense ids from a vocabulary join, each doc's set becomes
    bigint mask words, and the residual is bit_count(a & b) — integer
    ops in the generated join loop, ~ns per candidate, with only
    passing pairs ever materialized. (String array_intersect as a join
    residual measured ~100us/candidate — 4 orders of magnitude worse.)

    Scale (VERDICT r3 item 1, now implemented in _bitmask_near_pairs):
    both the vocabulary join and the pair join auto-switch on the
    session's autoBroadcastJoinThreshold — under it they broadcast
    (small-corpus fast path); over it (or threshold -1) they become
    shuffled sort-merge equi-joins, the pair join keyed on (size, salt)
    with a deterministic 8-way salt to spread the low-cardinality size
    buckets, identical bitmask residual. Dictionary ids come from the
    TeraSort-style two-level rank (bucketed_global_rank), never a
    single-partition global window. A corpus whose PASSING pairs are
    Theta(n^2) at 100 TB needs clustering semantics instead of pair
    listing — the pair list is the opt-in diagnostic form;
    llm_dedup_near_decision below is the O(n)-output default for the
    dense regime."""
    return _bitmask_near_pairs(spark, sf_dir).select(
        "d1", "d2", "n_common", "jaccard"
    ).orderBy("d1", "d2")


@query(
    "llm_dedup_ppjoin",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
dfreq AS (SELECT w, COUNT(*) AS df FROM tok GROUP BY w),
rt AS (
  SELECT t.doc_id, t.w, s.sz,
         row_number() OVER (PARTITION BY t.doc_id
                            ORDER BY f.df ASC, t.w ASC) AS rn
  FROM tok t JOIN dfreq f ON t.w = f.w JOIN sizes s ON s.doc_id = t.doc_id
),
pre AS (
  SELECT doc_id, w, sz FROM rt WHERE rn <= sz - (4 * sz + 4) // 5 + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM pre a JOIN pre b ON a.w = b.w AND a.doc_id < b.doc_id
   AND 5 * a.sz >= 4 * b.sz AND 5 * b.sz >= 4 * a.sz
),
inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS n_common
  FROM cand c
  JOIN tok a ON a.doc_id = c.d1
  JOIN tok b ON b.doc_id = c.d2 AND b.w = a.w
  GROUP BY c.d1, c.d2
)
SELECT i.d1, i.d2, CAST(i.n_common AS INTEGER) AS n_common,
       CAST(i.n_common AS DOUBLE)
         / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes s1 ON i.d1 = s1.doc_id
JOIN sizes s2 ON i.d2 = s2.doc_id
WHERE CAST(i.n_common AS DOUBLE)
      / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) >= 0.8
ORDER BY d1, d2
""",
    family=_FAM,
)
def llm_dedup_ppjoin(spark, sf_dir):
    """PREFIX-FILTERED set-similarity self-join (PPJoin-lite: prefix +
    length filters, Chaudhuri/Xiao et al.) at distinct-token Jaccard
    >= 0.8 — the RECALL-LOSSLESS sparse-regime answer to exactly the
    pair set llm_dedup_near computes, valid at ANY vocabulary: where
    the dense bitmask kernel REFUSES past 16k tokens (r8 Zipf stress:
    90k-type corpora are the production shape) and MinHash banding is
    probabilistic, prefix filtering is exact — if J(A,B) >= 0.8 the two
    docs MUST share a token within each one's first
    sz - ceil(0.8*sz) + 1 tokens under any agreed global order, so
    candidate generation joins only those prefixes. The global order is
    (df ASC, token ASC) — rarest first, which makes prefixes maximally
    selective — and needs NO global rank (no single-partition window):
    the prefix is a PER-DOC window over the df-joined token list.

    Plan: df table and sizes are combiner aggregates; the prefix join
    is an equi-join on the token with the integer length filter
    5*min(sz) >= 4*max(sz) inside the join condition; exact n_common
    verifies by a candidate-restricted posting count (ids-only joins,
    never array residuals — the capped-ngram lesson, PERF.md r8); the
    threshold test reuses _NEAR_ORACLE's exact-integer shape.

    REGIME DISPATCH (the llm_dedup_containment precedent, measured r8):
    on the deliberately-dense fixture (31-token vocab) prefixes prune
    NOTHING — every doc's prefix hits the same handful of tokens and
    the posting-count verify explodes (measured 97 s at sf0.1 vs the
    bitmask kernel's 2 s for the identical pair set) — so below the
    dense-regime vocabulary cap the op delegates to the shared
    _bitmask_near_pairs kernel; above it (where the bitmask REFUSES)
    the prefix join is the only exact sub-quadratic formulation (90k-
    type Zipf corpus: ~12 s). Both branches produce the same pair set
    (test-pinned vs llm_dedup_near at fixture scale); the dispatch
    reads one cached corpus stat (stats.vocab_size)."""
    n_vocab = corpus_stats.vocab_size(spark, sf_dir)  # cached corpus stat
    if n_vocab <= _MASK_WORDS_CAP * 64:
        return (
            _bitmask_near_pairs(spark, sf_dir)
            .select(
                "d1", "d2",
                F.col("n_common").cast("int").alias("n_common"), "jaccard",
            )
            .orderBy("d1", "d2")
        )
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("sz"))
    dfreq = tok.groupBy("w").agg(F.count("*").alias("df"))
    wp = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("w").asc()
    )
    rt = (
        tok.join(dfreq, "w")
        .join(sizes, "doc_id")
        .withColumn("rn", F.row_number().over(wp))
    )
    pre = rt.filter(
        F.col("rn")
        <= F.col("sz") - F.expr("(4 * sz + 4) div 5") + 1
    ).select("doc_id", "w", "sz", "rn")
    b = pre.select(
        F.col("doc_id").alias("d2"), F.col("w").alias("w2"),
        F.col("sz").alias("sz2"), F.col("rn").alias("rn2"),
    )
    # PPJoin+ POSITIONAL filter (r9, VERDICT r8 item 3 — verify was
    # 11.5 s of the 15 s Zipf wall): a match at prefix positions
    # (rn, rn2) bounds the overlap by 1 + min(sz-rn, sz2-rn2) — under
    # the shared global token order, the globally-FIRST common token
    # has no commons before it in either list. J >= 0.8 needs overlap
    # >= ceil(4*(sz1+sz2)/9), so rows whose bound can't reach it are
    # dropped BEFORE the pair dedup; a true pair always survives via
    # its first-common-token row, so the filter is recall-lossless and
    # the output (and oracle) are unchanged.
    pos_ok = (
        1 + F.least(F.col("sz") - F.col("rn"), F.col("sz2") - F.col("rn2"))
        >= F.expr("(4 * (sz + sz2) + 8) div 9")
    )
    cand = (
        pre.join(
            b,
            (pre.w == b.w2)
            & (pre.doc_id < b.d2)
            & (5 * pre.sz >= 4 * b.sz2)
            & (5 * b.sz2 >= 4 * pre.sz),
        )
        .filter(pos_ok)
        .select(F.col("doc_id").alias("d1"), "d2")
        .dropDuplicates(["d1", "d2"])
    )
    t1 = tok.select(F.col("doc_id").alias("d1"), F.col("w").alias("wa"))
    t2 = tok.select(F.col("doc_id").alias("db"), F.col("w").alias("wb"))
    inter = (
        cand.join(t1, "d1")
        .join(t2, (F.col("d2") == F.col("db")) & (F.col("wa") == F.col("wb")))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("n_common"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    jac = F.col("n_common").cast("double") / (
        (F.col("sz1") + F.col("sz2") - F.col("n_common")).cast("double")
    )
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1", "d2",
            F.col("n_common").cast("int").alias("n_common"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
        .orderBy("d1", "d2")
    )


_NEAR_SALTS = 8  # shuffled-path salt fan-out over the skewed size key

# Dense-regime ceiling for the bitmask kernels: past this many 64-bit
# mask words (cap * 64 vocabulary tokens) the dense encoding is the
# wrong regime — thousands of mask columns hit the catalyst column
# limit long after the plan stopped making sense. Kernels guard on it
# and fail LOUDLY with the posting-list alternative named, instead of
# dying deep inside codegen (VERDICT r4 item 1).
_MASK_WORDS_CAP = 256

# Runtime-settable regime switch for llm_dedup_containment: vocabularies
# above this flip from the dense mask kernel to posting-list candidates.
# Conf'd (like autoBroadcastJoinThreshold) so the plan-gate sweep can
# force the sparse path on the small fixture.
_CONTAINMENT_VOCAB_CAP_CONF = "spark.hdfs_mr.containment.vocabCap"


def _salted_pair_join(a, b, cond, n_salts: int, a_key: str):
    """Shuffled all-pairs scaffold shared by the mask kernels: salt the
    probe side deterministically (xxhash64 of its id — reruns produce
    identical plans), explode the build side across every salt, and
    evaluate ``cond`` INSIDE the join so only passing pairs
    materialize. The salt is an equi key, so Catalyst plans a
    sort-merge/shuffled-hash join with n_salts-way parallelism."""
    a = a.withColumn("__salt", F.pmod(F.xxhash64(a_key), F.lit(n_salts)))
    b = b.withColumn(
        "__bsalt",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.lit(n_salts - 1).cast("bigint"))
        ),
    )
    return a.join(b, (F.col("__salt") == F.col("__bsalt")) & cond)


def _conf_broadcast_bytes(spark) -> int:
    """The session's autoBroadcastJoinThreshold in bytes (-1 = never).

    Explicit F.broadcast hints ignore this conf, so kernels that must
    degrade to shuffles at scale read it themselves and only hint while
    the estimated build side fits — which also means the plan-gate
    sweeps (threshold -1) exercise the shuffled path for free."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if raw.endswith(suf):
            raw, mult = raw[: -len(suf)], m
            break
    try:
        return int(raw) * mult
    except ValueError:
        return 10 << 20


def _bitmask_encoded_docs(spark, sf_dir, n_vocab: int | None = None):
    """Dictionary-encoded distinct-token bitmasks per document:
    returns (enc, mask_cols, n_docs) where enc has (doc_id, sz,
    m0..mK) — the shared front half of every mask-residual dedup
    kernel (_bitmask_near_pairs, llm_dedup_containment).

    Dense token ids come from the TeraSort two-level rank over
    (xxhash64 bucket, w) — no global single-partition window — and the
    vocabulary join auto-switches on the conf'd broadcast threshold
    (popcount of a mask intersection is invariant to the dictionary
    permutation, so any deterministic id assignment works).
    ``n_vocab`` lets a caller that already counted the vocabulary (the
    containment regime switch) skip the count job here."""
    from hdfs_mr_spark.operators.sorts import bucketed_global_rank

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("s")
    ).withColumn("sz", F.size("s"))
    # sz rides the explode so the mask groupBy below yields the full
    # enc row directly (r16-opt, guide §2.3/§2.4): no consumer reads
    # the token array itself, so the former toks ⋈ masks re-attach
    # join — and its second scan of documents — is dead weight. Flat
    # at fixture scale (A/B'd), one fewer corpus pass structurally.
    tok = toks.select("doc_id", "sz", F.explode("s").alias("w"))
    vocab = bucketed_global_rank(
        tok.select("w").distinct(),
        F.pmod(F.xxhash64("w"), F.lit(16)),
        [F.col("w").asc()],
        ["w"],
        "rid",
    ).select("w", (F.col("rid") - 1).cast("int").alias("tid"))
    if n_vocab is None:
        n_vocab = corpus_stats.vocab_size(spark, sf_dir)  # cached corpus stat
    n_words = (n_vocab + 63) // 64  # mask words needed
    if n_words > _MASK_WORDS_CAP:
        raise ValueError(
            f"dense bitmask kernel: vocabulary of {n_vocab} tokens needs "
            f"{n_words} mask words (cap {_MASK_WORDS_CAP} = "
            f"{_MASK_WORDS_CAP * 64} tokens). This corpus is in the sparse "
            "regime — use the posting-list candidate formulation instead "
            "(llm_dedup_containment's sparse branch / llm_dedup_near_ngram)."
        )
    bcast_limit = _conf_broadcast_bytes(spark)
    # ~string word + int id per dictionary row
    vj = F.broadcast(vocab) if 0 < n_vocab * 48 <= bcast_limit else vocab
    # checkpoint: enc feeds BOTH join sides (a exploded, b build side)
    # and AQE re-plans pull the whole dictionary+mask subtree 16-20x per
    # query without it (counted in the sf0.1 sweep log). One
    # materialization removes the re-execution.
    enc = (
        tok.join(vj, "w")
        .groupBy("doc_id", "sz")
        .agg(
            *[
                F.bit_or(
                    F.when(
                        (F.col("tid") >= k * 64) & (F.col("tid") < (k + 1) * 64),
                        F.expr("shiftleft(cast(1 as bigint), cast(tid % 64 as int))"),
                    ).otherwise(F.lit(0).cast("bigint"))
                ).alias(f"m{k}")
                for k in range(n_words)
            ]
        )
        .localCheckpoint()
    )
    n_docs = enc.count()  # checkpoint is materialized; this is free
    mask_cols = [f"m{k}" for k in range(n_words)]
    return enc, mask_cols, n_docs


def _bitmask_near_pairs(spark, sf_dir, keep=None):
    """Size-blocked bitmask kernel: (d1, d2, n_common, jaccard) pairs
    with distinct-token Jaccard >= 0.8 (see llm_dedup_near).

    ``keep`` (optional DataFrame of doc_id) restricts BOTH pair sides
    before the expensive join — pipeline consumers that only need
    pairs among surviving docs (llm_pipeline_clean) prune the
    candidate space to |survivors|^2 instead of filtering after the
    full-corpus join. Restriction commutes with the pairwise
    predicate, so semantics are identical.

    Both joins auto-switch on the conf'd broadcast threshold; the
    shuffled pair join salts the size key (deterministic
    xxhash64(d1) % 8) because sizes are low-cardinality and heavily
    skewed."""
    enc, mask_cols, n_docs = _bitmask_encoded_docs(spark, sf_dir)
    if keep is not None:
        enc = enc.join(keep.select("doc_id"), "doc_id")
        n_docs = enc.count()
    n_words = len(mask_cols)
    bcast_limit = _conf_broadcast_bytes(spark)
    # integer-exact admissible partner sizes: ceil(4*sz/5) .. floor(5*sz/4)
    a = fan_out(enc).select(
        F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"),
        *[F.col(m).alias(f"a_{m}") for m in mask_cols],
        F.explode(
            F.expr("sequence((sz * 4 + 4) div 5, (sz * 5) div 4)")
        ).alias("partner_sz"),
    )
    b = enc.select(
        F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"),
        *[F.col(m).alias(f"b_{m}") for m in mask_cols],
    )
    n_common = sum(
        (F.bit_count(F.col(f"a_{m}").bitwiseAND(F.col(f"b_{m}"))) for m in mask_cols),
        F.lit(0),
    )
    union_sz = F.col("sz1") + F.col("sz2") - n_common
    jac = n_common.cast("double") / union_sz.cast("double")
    residual = (F.col("d1") < F.col("d2")) & (jac >= 0.8)
    b_bytes = n_docs * 8 * (n_words + 2)  # id + size + mask words
    if 0 < b_bytes <= bcast_limit:
        # small-corpus fast path: one scan of `a` probes an in-memory b
        passing = a.join(
            F.broadcast(b), (F.col("partner_sz") == F.col("sz2")) & residual
        )
    else:
        # scale path: shuffled sort-merge equi-join on (size, salt).
        # Size alone is a handful of skewed key values; the salt spreads
        # each size bucket across _NEAR_SALTS reducers. Deterministic
        # (hash of d1, not rand()) so reruns produce identical plans.
        passing = _salted_pair_join(
            a, b, (F.col("partner_sz") == F.col("sz2")) & residual,
            _NEAR_SALTS, "d1",
        )
    return passing.select(
        "d1", "d2",
        n_common.cast("int").alias("n_common"),
        jac.alias("jaccard"),
    )


_NEAR_DECISION_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT i.d1, i.d2
  FROM inter i
  JOIN sizes s1 ON i.d1 = s1.doc_id
  JOIN sizes s2 ON i.d2 = s2.doc_id
  WHERE CAST(i.n_common AS DOUBLE)
        / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) >= 0.8
)
SELECT d.doc_id,
       MIN(p.d1) AS dup_of,
       (MIN(p.d1) IS NULL) AS kept
FROM documents d LEFT JOIN pairs p ON d.doc_id = p.d2
GROUP BY d.doc_id
ORDER BY d.doc_id
"""


@query("llm_dedup_near_decision", oracle=_NEAR_DECISION_ORACLE, family=_FAM)
def llm_dedup_near_decision(spark, sf_dir):
    """Decision-output near-dedup — the scale DEFAULT for the dense
    regime (VERDICT r1 item 6): per doc, keep/drop plus the lowest-id
    passing partner as representative. Same size-blocked bitmask kernel
    as llm_dedup_near, but the Theta(n^2) passing pairs collapse
    map-side into a per-doc min() (combiner shape) — the output and the
    shuffle are O(n) however dense the corpus, which is what a 100 TB
    dedup pass actually persists. The pair-listing twin stays available
    as the opt-in diagnostic."""
    d = table(spark, sf_dir, "documents")
    dup_of = (
        _bitmask_near_pairs(spark, sf_dir)
        .groupBy(F.col("d2").alias("doc_id"))
        .agg(F.min("d1").alias("dup_of"))
    )
    return (
        d.select("doc_id")
        .join(dup_of, "doc_id", "left")
        .select("doc_id", "dup_of", F.col("dup_of").isNull().alias("kept"))
        .orderBy("doc_id")
    )


_MINHASH_BANDS = 12  # r=2 rows/band: P(candidate) = 1-(1-J^2)^12
_MINHASH_PRIME = 2_147_483_647


@query(
    "llm_dedup_minhash_lsh",
    oracle="""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(l) - 1),
                       i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d
),
tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.d1, i.d2,
       CAST(i.n_common AS DOUBLE)
         / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes s1 ON i.d1 = s1.doc_id
JOIN sizes s2 ON i.d2 = s2.doc_id
WHERE CAST(i.n_common AS DOUBLE)
      / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) >= 0.5
ORDER BY d1, d2
""",
    family=_FAM,
)
def llm_dedup_minhash_lsh(spark, sf_dir):
    """MinHash + LSH near-dedup, the sub-quadratic scale path: trigram
    shingles -> 24 seeded min-hashes -> 12 two-row bands -> candidates
    only where a band bucket collides -> exact trigram Jaccard >= 0.5.

    Trigram Jaccard on this corpus is bimodal (true dups ~0.97,
    background ~0.02), which is exactly the regime LSH is built for:
    P(candidate) = 1-(1-J^2)^12 is ~1 at J>=0.9 and ~0.005 at the
    background, so candidates are ~linear in n while recall at the 0.5
    cut is empirically 1.0 on the fixtures (the oracle proves it — any
    missed pair fails the hash-match). Everything is JVM expressions:
    minhash via seeded xxhash64 folds, banding via explode + equi-join,
    exact verify via array_intersect."""
    return _trigram_lsh_pairs(spark, sf_dir).orderBy("d1", "d2")


def _shingle_frame(spark, sf_dir):
    """Materialized (doc_id, s=trigram-shingle array, sz) frame.

    Two-stage materialization, both load-bearing (PERF.md findings 2/3b):
    1. the token array is checkpointed BEFORE the shingle lambda —
       `element_at(split(text), i)` inside the transform re-evaluates the
       split per shingle index (3x per i in the interpreted evaluator);
       binding `toks` as a materialized column makes each access an O(1)
       attribute read (measured: 7.2 s -> <1 s for this stage at sf0.1);
    2. the shingle arrays themselves are checkpointed because downstream
       kernels consume the frame up to 4x (explode, sig join, both sides
       of the verify join)."""
    return shingle_frame_of(table(spark, sf_dir, "documents"))


def shingle_frame_of(docs):
    """_shingle_frame over an arbitrary (doc_id, text) frame — the
    entry point the STREAMING absorb uses on per-micro-batch doc
    frames (same shingle semantics). A checkpoint=False fast path for
    tiny batches was proposed (ADVICE r9), wired, and MEASURED SLOWER
    on both the sf0.1 fixture (+4.8 s/drain) and the Zipf corpus
    (+26-42 s/drain): the downstream MinHash explodes the shingle
    transform 24-way, so re-evaluating the un-materialized token
    arrays always costs more than the two scheduling jobs saved
    (PERF.md r10). The parameter was dropped."""
    # r15-opt (guide §2.4): the old form materialized the token arrays in
    # their own eager localCheckpoint because `element_at(toks, i)` inside
    # the index-transform re-evaluated split() per shingle index (PERF.md
    # finding 2). The zip_with-over-slices spelling below references toks
    # a fixed number of times PER ROW (not per shingle), so the extra
    # checkpoint job + its shuffle barrier go away: 0.50 -> 0.31 s for the
    # build at sf0.1, arrays bit-identical (the sliding zip preserves
    # first-occurrence order, so array_distinct output is unchanged).
    # size guard: slice lengths of size-2 are non-positive for <3 tokens —
    # short docs get an empty shingle set (exactly what DuckDB's empty
    # range(1, len-1) produces).
    shingles = F.array_distinct(
        F.expr(
            "IF(size(toks) >= 3,"
            " zip_with(slice(toks, 1, size(toks) - 2),"
            "          zip_with(slice(toks, 2, size(toks) - 2),"
            "                   slice(toks, 3, size(toks) - 2),"
            "                   (b, c) -> concat(b, ' ', c)),"
            "          (a, bc) -> concat(a, ' ', bc)),"
            " array())"
        )
    )
    out = (
        fan_out(docs.select("doc_id", F.split("text", " ").alias("toks")))
        .select("doc_id", shingles.alias("s"))
        .withColumn("sz", F.size("s"))
    )
    return out.localCheckpoint()


def _minhash_sig(spark, sf_dir):
    """(doc_id, h0..h23) MinHash signature frame.

    24 minhash values: h_j = min over shingles of (xxhash64(shingle, j) mod p).
    Shaped as explode -> 24 codegen'd hash columns -> 24 min() partial aggs
    (combiner-style, shuffle carries one row of 24 longs per doc) rather
    than a higher-order fold, which is interpreted per element."""
    return minhash_sig_of(_shingle_frame(spark, sf_dir))


def minhash_sig_of(sh):
    """_minhash_sig over an arbitrary shingle frame (streaming absorb
    entry point)."""
    exploded = sh.select("doc_id", F.explode("s").alias("shingle"))
    hash_cols = [
        F.pmod(F.xxhash64("shingle", F.lit(j)), F.lit(_MINHASH_PRIME)).alias(f"h{j}")
        for j in range(2 * _MINHASH_BANDS)
    ]
    return (
        exploded.select("doc_id", *hash_cols)
        .groupBy("doc_id")
        .agg(*[F.min(f"h{j}").alias(f"h{j}") for j in range(2 * _MINHASH_BANDS)])
    )


def _trigram_lsh_pairs(spark, sf_dir):
    """Shared MinHash-LSH kernel: (d1, d2, jaccard) pairs with trigram
    Jaccard >= 0.5 (see llm_dedup_minhash_lsh for the full story)."""
    sh = _shingle_frame(spark, sf_dir)
    sig = _minhash_sig(spark, sf_dir).join(sh, "doc_id")
    # bands of r=2: bucket key = (band_idx, h_2b, h_2b+1)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.col(f"h{2 * b}").alias("h1"),
                F.col(f"h{2 * b + 1}").alias("h2"),
            )
            for b in range(_MINHASH_BANDS)
        ]
    )
    # band join carries only (doc_id, bucket key) — the shingle arrays
    # are attached AFTER candidate-pair dedup, so they never ride the
    # band shuffle or the dropDuplicates exchange
    keyed = sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id",
        F.col("bk.band").alias("band"), F.col("bk.h1").alias("h1"),
        F.col("bk.h2").alias("h2"),
    )
    a = keyed.select(F.col("doc_id").alias("d1"), "band", "h1", "h2")
    b = keyed.select(
        F.col("doc_id").alias("d2"),
        F.col("band").alias("band2"), F.col("h1").alias("g1"),
        F.col("h2").alias("g2"),
    )
    cand = (
        a.join(
            b,
            (F.col("band") == F.col("band2"))
            & (F.col("h1") == F.col("g1"))
            & (F.col("h2") == F.col("g2"))
            & (F.col("d1") < F.col("d2")),
        )
        .select("d1", "d2")
        .dropDuplicates(["d1", "d2"])  # same pair may collide in many bands
    )
    s1 = sh.select(F.col("doc_id").alias("d1"), F.col("s").alias("s1"),
                   F.col("sz").alias("sz1"))
    s2 = sh.select(F.col("doc_id").alias("d2"), F.col("s").alias("s2"),
                   F.col("sz").alias("sz2"))
    n_common = F.size(F.array_intersect("s1", "s2"))
    jac = n_common.cast("double") / (
        (F.col("sz1") + F.col("sz2") - n_common).cast("double")
    )
    # Verify join is UNHINTED on purpose: the shingle frame is O(corpus),
    # so broadcasting it OOMs long before 100 TB. A shuffle equi-join on
    # d1/d2 scales on both sides, and AQE is still free to build-side a
    # genuinely small candidate set at runtime (tests/test_plans.py
    # asserts no BroadcastExchange feeds off the shingle frame here).
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


@query(
    "llm_dedup_embed",
    oracle="""
WITH n AS (
  SELECT vec_id, embedding,
         SQRT(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
           (acc, x) -> acc + x)) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2
  FROM n a JOIN n b ON a.vec_id < b.vec_id
  WHERE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(list_zip(a.embedding, b.embedding),
            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
          (acc, x) -> acc + x) / (a.nrm * b.nrm) >= 0.35
)
SELECT e.vec_id,
       MIN(p.v1) AS dup_of,
       (MIN(p.v1) IS NULL) AS kept
FROM embeddings e LEFT JOIN pairs p ON e.vec_id = p.v2
GROUP BY e.vec_id
ORDER BY e.vec_id
""",
    family=_FAM,
)
def llm_dedup_embed(spark, sf_dir):
    """Embedding-cosine near-dup dedup: a vector is a duplicate if some
    lower-id vector has cosine >= 0.35 with it; the kept representative
    is the lowest id (deterministic, no connected components needed for
    a dedup decision). Reuses the JVM-side fold kernel from
    llm_similarity; brute-force pairs at fixture scale — the documented
    scale path buckets candidates by sign-bit sketch first
    (llm_sim_knn_lsh plan shape), which leaves this exact query as the
    per-bucket kernel."""
    from hdfs_mr_spark.operators.llm_similarity import blocked_cosine_pairs

    e = table(spark, sf_dir, "embeddings")
    # blocked vectorized kernel (see llm_similarity.blocked_cosine_pairs):
    # the cosine threshold is applied inside the numpy unit, only passing
    # pairs materialize
    pairs = blocked_cosine_pairs(spark, sf_dir, threshold=0.35).select("v1", "v2")
    return (
        e.select("vec_id")
        .join(pairs, e.vec_id == pairs.v2, "left")
        .groupBy("vec_id")
        .agg(F.min("v1").alias("dup_of"))
        .select("vec_id", "dup_of", F.col("dup_of").isNull().alias("kept"))
        .orderBy("vec_id")
    )


# Candidate-generation df cap for the capped n-gram dedup: posting
# lists longer than this never generate candidate pairs (the verify
# still scores FULL shingle sets). 64 keeps every fixture pair and cuts
# the Zipf-head posting joins that made the uncapped op the family's
# scale outlier (PERF.md r8: 15x wall on 10x docs).
_NGRAM_DF_CAP = 64


@query(
    "llm_dedup_near_ngram",
    # The oracle REPLAYS THE REGIME DISPATCH (ADVICE r9 medium): the
    # `regime` CTE computes the same max-shingle-df stat the Spark plan
    # gates on, candidate generation switches on it exactly as the
    # implementation does, and scoring is full-set Jaccard either way —
    # so the op's DECLARED semantics match its plan in BOTH regimes by
    # construction, not just empirically on the Zipf stress corpus.
    oracle=f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(l) - 1),
                       i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d
),
tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
dfreq AS (SELECT s, COUNT(*) AS df FROM tok GROUP BY s),
regime AS (SELECT MAX(df) > {_NGRAM_DF_CAP} AS capped FROM dfreq),
rare AS (
  SELECT t.doc_id, t.s FROM tok t
  JOIN dfreq f ON t.s = f.s WHERE f.df <= {_NGRAM_DF_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
  WHERE NOT (SELECT capped FROM regime)
  UNION
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
  WHERE (SELECT capped FROM regime)
),
inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS n_common
  FROM cand c
  JOIN tok a ON a.doc_id = c.d1
  JOIN tok b ON b.doc_id = c.d2 AND b.s = a.s
  GROUP BY c.d1, c.d2
)
SELECT i.d1, i.d2,
       CAST(i.n_common AS DOUBLE)
         / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) AS jaccard3
FROM inter i
JOIN sizes s1 ON i.d1 = s1.doc_id
JOIN sizes s2 ON i.d2 = s2.doc_id
WHERE CAST(i.n_common AS DOUBLE)
      / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) >= 0.5
ORDER BY d1, d2
""",
    family=_FAM,
)
def llm_dedup_near_ngram(spark, sf_dir):
    """3-gram (word-trigram) Jaccard near-dup: inverted-index self-join on
    shingles, group-count intersections, exact Jaccard >= 0.5. This is
    the posting-list formulation — pairs sharing no shingle are never
    materialized, which is what keeps it sub-quadratic at scale.

    REGIME DISPATCH (VERDICT r8 item 1, the llm_dedup_ppjoin pattern):
    the uncapped posting self-join's worst per-shingle bucket is df^2,
    so it is only planned while the corpus' max shingle df stays within
    _NGRAM_DF_CAP (one cached corpus stat, stats.max_shingle_df). Past
    the cap — the Zipf-head regime where the r8 stress measured 15x
    wall on 10x docs, 179.5M of 182.5M join pairs from 972 head
    shingles — it dispatches to the df-capped candidate generation
    (shared with llm_dedup_near_ngram_capped), whose head/rare split
    keeps every bucket <= cap^2 BY CONSTRUCTION while still scoring
    exact full-set Jaccard (identical pair set on the stress corpus:
    0 missed / 0 extra, BENCH_r8_zipf). Since r10 the DISPATCH IS THE
    DECLARED SEMANTICS: the oracle replays the same max-df regime
    switch, so a corpus where df-capping drops a boilerplate-only pair
    (common shingles exclusively df > cap) is in-contract on both
    sides rather than an empirical coincidence (ADVICE r9 medium)."""
    if corpus_stats.max_shingle_df(spark, sf_dir) > _NGRAM_DF_CAP:
        return _capped_trigram_pairs(spark, sf_dir).orderBy("d1", "d2")
    return _trigram_exact_pairs(spark, sf_dir).select(
        "d1", "d2", F.col("jaccard").alias("jaccard3")
    ).orderBy("d1", "d2")


@query(
    "llm_dedup_near_ngram_capped",
    oracle=f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(l) - 1),
                       i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d
),
tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
dfreq AS (SELECT s, COUNT(*) AS df FROM tok GROUP BY s),
rare AS (
  SELECT t.doc_id, t.s FROM tok t
  JOIN dfreq f ON t.s = f.s WHERE f.df <= {_NGRAM_DF_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS n_common
  FROM cand c
  JOIN tok a ON a.doc_id = c.d1
  JOIN tok b ON b.doc_id = c.d2 AND b.s = a.s
  GROUP BY c.d1, c.d2
)
SELECT i.d1, i.d2,
       CAST(i.n_common AS DOUBLE)
         / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) AS jaccard3
FROM inter i
JOIN sizes s1 ON i.d1 = s1.doc_id
JOIN sizes s2 ON i.d2 = s2.doc_id
WHERE CAST(i.n_common AS DOUBLE)
      / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) >= 0.5
ORDER BY d1, d2
""",
    family=_FAM,
)
def llm_dedup_near_ngram_capped(spark, sf_dir):
    """DF-CAPPED trigram Jaccard near-dup — the scale fix for the
    uncapped posting-list formulation, which the r8 Zipf stress
    measured as the dedup family's outlier (15x wall on 10x docs,
    PERF.md r8): Zipf-HEAD shingles produce posting lists whose
    self-join dominates everything else. Here candidate GENERATION
    uses only shingles with document frequency <= 64 (the _NGRAM_DF_CAP
    constant; a combiner
    df count + one semi-join prunes the heads), while the VERIFY stage
    still scores the FULL shingle sets of each candidate pair with
    exact Jaccard — so reported scores are identical to the uncapped
    op's, and the only pairs that can be missed are those sharing
    EXCLUSIVELY head shingles (df > cap), which at J >= 0.5 requires
    two documents built almost entirely from boilerplate n-grams — the
    pair class a boilerplate filter, not a dedup pass, should own.
    This is CCNet/BigQuery-style df truncation: the standard
    recall/cost dial for inverted-index dedup at corpus scale.

    Plan shape: df table is combiner-shape; the capped posting
    self-join's worst bucket is <= cap^2 rows per shingle (bounded by
    CONSTRUCTION, independent of corpus size — the property the
    uncapped op lacks); verify joins candidate ids against the shingle
    arrays (array_intersect, JVM-side). Zipf-stress measurement in
    PERF.md r8. Since r9 this plan is also llm_dedup_near_ngram's
    high-df dispatch target (shared _capped_trigram_pairs)."""
    return _capped_trigram_pairs(spark, sf_dir).orderBy("d1", "d2")


def _capped_trigram_pairs(spark, sf_dir):
    """DF-capped posting-list trigram-Jaccard >= 0.5 pairs
    (d1, d2, jaccard3): candidate generation from shingles with
    df <= _NGRAM_DF_CAP, exact full-set scoring via the rare-count +
    head-array-intersect split (see llm_dedup_near_ngram_capped's
    docstring for the algorithm and its measured regime)."""
    sh = _shingle_frame(spark, sf_dir)
    tok = sh.select("doc_id", F.explode("s").alias("g"))
    dfreq = tok.groupBy("g").agg(F.count("*").alias("df"))
    heads = dfreq.filter(F.col("df") > _NGRAM_DF_CAP).select("g")
    rare = tok.join(heads, "g", "left_anti")
    # candidate generation AND the rare half of the intersection in ONE
    # pass: the capped posting self-join's per-shingle bucket is <=
    # cap^2 by construction, and the combiner count gives n_rare_common
    # directly (a first draft that re-verified candidates against FULL
    # shingle arrays measured a wash on the Zipf corpus — it re-paid
    # the pruned volume as array_intersect work).
    r2 = rare.select(F.col("doc_id").alias("d2"), F.col("g").alias("g2"))
    pairs = (
        rare.join(r2, (rare.g == r2.g2) & (rare.doc_id < r2.d2))
        .groupBy(F.col("doc_id").alias("d1"), "d2")
        .agg(F.count("*").alias("n_rare"))
    )
    # the head half: per-doc HEAD-shingle arrays are tiny by the cap's
    # own definition (few types carry df > cap — the Zipf head), so the
    # exact head intersection is an array_intersect over short arrays
    hd = (
        tok.join(heads, "g")
        .groupBy("doc_id")
        .agg(F.collect_set("g").alias("hs"))
    )
    empty = F.array().cast("array<string>")
    s1 = (
        sh.join(hd, "doc_id", "left")
        .select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"),
                F.coalesce(F.col("hs"), empty).alias("h1"))
    )
    s2 = (
        sh.join(hd, "doc_id", "left")
        .select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"),
                F.coalesce(F.col("hs"), empty).alias("h2"))
    )
    n_common = F.col("n_rare") + F.size(F.array_intersect("h1", "h2"))
    jac = n_common.cast("double") / (
        (F.col("sz1") + F.col("sz2") - n_common).cast("double")
    )
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .select("d1", "d2", jac.alias("jaccard3"))
        .filter(F.col("jaccard3") >= 0.5)
    )


def _trigram_exact_pairs(spark, sf_dir):
    """Exact posting-list trigram-Jaccard >= 0.5 pairs (d1, d2, jaccard).

    The deterministic edge kernel: unlike the MinHash-LSH candidates
    (whose recall is probabilistic and data-dependent), this enumerates
    exactly the >= 0.5 pair set, so graph consumers (mr_pagerank,
    llm_dedup_clusters) match their exact-definition oracles on ANY
    corpus, not just ones where banding recall happens to be 1.0
    (ADVICE r1). Still sub-quadratic: pairs sharing no shingle never
    materialize."""
    # r15-opt (guide §2.3 — shuffle keys and metadata together instead of
    # re-attaching them): each side of the posting join carries its doc's
    # shingle-set size, so the two post-aggregation size joins vanish —
    # sz rides the (already required) shuffles as one extra int column
    # and the Jaccard filter evaluates straight off the pair aggregate.
    # Same pair set, same IEEE division, measured 1.25 -> 1.10 s warm.
    sh = _shingle_frame(spark, sf_dir)
    tok = sh.select("doc_id", "sz", F.explode("s").alias("s"))
    t2 = tok.select(
        F.col("doc_id").alias("doc_id2"), F.col("sz").alias("sz2"),
        F.col("s").alias("s2"),
    )
    # Size-band residual (r15-opt, guide §2.3 — the PPJoin length filter):
    # J >= 0.5 forces |A∩B| >= (sz1+sz2)/3 and |A∩B| <= min(sz1,sz2), so
    # max <= 2*min — any pair outside the 2x size band can NEVER pass the
    # final filter. Evaluating the band INSIDE the join drops those pairs
    # before the (d1,d2) aggregation exchange: 3.85 -> 1.84 s same-session
    # A/B at sf0.1, pair set verified identical.
    inter = (
        tok.join(
            t2,
            (tok.s == t2.s2) & (tok.doc_id < t2.doc_id2)
            & (tok.sz <= 2 * t2.sz2) & (t2.sz2 <= 2 * tok.sz),
        )
        .groupBy(
            F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"),
            F.col("doc_id2").alias("d2"), F.col("sz2"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        (F.col("sz1") + F.col("sz2") - F.col("n_common")).cast("double")
    )
    return (
        inter.select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


# Shared by llm_dedup_clusters (min-label propagation) and
# llm_dedup_clusters_star (large-star/small-star): connected components
# are algorithm-independent, so both operators hash against the same
# recursive-CTE ground truth.
_CLUSTERS_ORACLE = """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(l) - 1),
                       i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d
),
tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
edges AS (
  SELECT i.d1, i.d2
  FROM inter i
  JOIN sizes s1 ON i.d1 = s1.doc_id
  JOIN sizes s2 ON i.d2 = s2.doc_id
  WHERE CAST(i.n_common AS DOUBLE)
        / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) >= 0.5
),
bidir AS (
  SELECT d1 AS a, d2 AS b FROM edges
  UNION ALL
  SELECT d2 AS a, d1 AS b FROM edges
),
walk(node, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, w.lab FROM walk w JOIN bidir e ON e.a = w.node
),
comp AS (SELECT node AS doc_id, MIN(lab) AS component FROM walk GROUP BY node)
SELECT doc_id, component,
       CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size,
       (doc_id = component) AS is_representative
FROM comp
ORDER BY doc_id
"""


@query("llm_dedup_clusters", oracle=_CLUSTERS_ORACLE, family=_FAM)
def llm_dedup_clusters(spark, sf_dir):
    """Dedup clustering: connected components over the trigram near-dup
    graph (edges from the exact posting-list kernel), each doc labeled with its
    component's minimum doc_id — the canonical-representative assignment
    a real pipeline keeps, instead of a raw pair list.

    The iterative algorithm the engine showcase needs: min-label
    propagation to fixpoint (_min_label_components), converging in
    O(diameter) rounds to a UNIQUE fixpoint — deterministic however
    partitions race, which is what makes it oracle-checkable (DuckDB
    replays it as a recursive CTE). Edges come from the exact
    posting-list kernel (not the probabilistic LSH candidates): the
    component labels must match the exact >= 0.5 graph on any corpus
    (ADVICE r1). The round bound is max(16, n_docs), which is at least
    the graph diameter."""
    d = table(spark, sf_dir, "documents")
    edges = _trigram_exact_pairs(spark, sf_dir).select("d1", "d2")
    bidir = edges.union(edges.select("d2", "d1")).select(
        F.col("d1").alias("src"), F.col("d2").alias("dst"), F.lit(0).alias("w")
    ).localCheckpoint()
    labels = _min_label_components(
        d.select(F.col("doc_id").alias("node")), bidir, max(16, int(d.count()))
    ).select(F.col("node").alias("doc_id"), F.col("d").alias("component"))
    w = Window.partitionBy("component")
    return (
        labels.withColumn("cluster_size", F.count("*").over(w).cast("bigint"))
        .withColumn("is_representative", F.col("doc_id") == F.col("component"))
        .orderBy("doc_id")
    )


def _min_label_components(nodes, edges, max_rounds: int):
    """Min-label propagation: each node's ``d`` becomes the smallest
    ``node`` id in its connected component. It is exprs.relax with
    weight-0 ``edges`` from ``(node, node)`` seeds, run to a fixpoint;
    each round localCheckpoints its merge, and the improved-node count
    is the only scalar that reaches the driver.

    Guard (VERDICT r3 item 10): min-label propagation provably
    converges within n-1 rounds on any graph, so a loop that has not
    reached its fixpoint after ``max_rounds`` raises, with the
    per-round frontier-size trace attached, rather than spinning the
    driver silently; the trace is also logged on normal convergence so
    round counts are auditable."""
    import logging

    labels, trace = relax(
        edges, nodes.select("node", F.col("node").alias("d")), max_rounds
    )
    if trace[-1:] != [0]:
        raise RuntimeError(
            "llm_dedup_clusters did not converge within "
            f"{max_rounds} rounds; frontier sizes per round: {trace}"
        )
    logging.getLogger(__name__).info(
        "llm_dedup_clusters converged in %d rounds; frontier sizes: %s",
        len(trace), trace,
    )
    return labels


def _cc_star_components(spark, nodes, edges, max_rounds: int = 64):
    """Alternating large-star/small-star connected components (Kiveris
    et al. 2014, "Connected Components in MapReduce and Beyond") —
    the O(log^2 n)-round alternative to min-label propagation's
    O(diameter) rounds; on a chain-shaped dup graph that is the
    difference between ~n rounds and a handful (measured in
    tests/test_units.py: a 64-node chain needs 63 min-label rounds by
    construction but <= 8 alternations here).

    Each round is two edge-rewrite passes over the symmetric edge list:
    - large-star: every neighbor v > u re-attaches to m(u) =
      min(N(u) + {u}) — a groupBy-min plus an equi-join, both
      combiner-shape;
    - small-star: u and its neighbors v <= u attach to m(u).
    The edge set monotonically contracts toward a star forest rooted
    at each component's minimum id; convergence is detected by an
    (edge count, xxhash64 bit_xor) signature — one tiny aggregate per
    round, the only scalars that reach the driver. localCheckpoint
    per pass cuts the growing lineage exactly like the min-label twin.

    Returns (labels DataFrame (doc_id, component), n_rounds)."""

    def sym(df):
        e = df.where(F.col("a") != F.col("b")).select(
            F.col("a").alias("u"), F.col("b").alias("v")
        )
        return (
            e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
            .localCheckpoint()
        )

    e = sym(
        edges.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
    )
    prev_sig = None
    rounds = 0
    trace: list[tuple[int, int]] = []
    for _ in range(max_rounds):
        for phase in ("large", "small"):
            m = (
                e.groupBy("u")
                .agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", "u").alias("m"))
            )
            if phase == "large":
                out = (
                    e.join(m, "u")
                    .where(F.col("v") > F.col("u"))
                    .select(F.col("v").alias("a"), F.col("m").alias("b"))
                )
            else:
                out = (
                    e.join(m, "u")
                    .where(F.col("v") <= F.col("u"))
                    .select(F.col("v").alias("a"), F.col("m").alias("b"))
                    .union(
                        m.select(F.col("u").alias("a"), F.col("m").alias("b"))
                    )
                )
            e = sym(out)
        rounds += 1
        row = e.agg(
            F.count("*").alias("c"),
            # bit_xor, not sum: order-insensitive over the distinct edge
            # set and cannot overflow under ANSI arithmetic
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        sig = (row["c"], row["h"])
        trace.append(sig)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"_cc_star_components did not converge within {max_rounds} "
            f"rounds; (edge count, hash) per round: {trace}"
        )
    # fixpoint is a star forest: every node's component is the least of
    # itself and its (root) neighbors; isolated nodes root themselves
    roots = (
        e.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(F.col("u").alias("doc_id"), F.least("mn", "u").alias("cmp"))
    )
    labels = nodes.join(roots, "doc_id", "left").select(
        "doc_id",
        F.least(F.coalesce("cmp", "doc_id"), "doc_id").alias("component"),
    )
    return labels, rounds


@query("llm_dedup_clusters_star", oracle=_CLUSTERS_ORACLE, family=_FAM)
def llm_dedup_clusters_star(spark, sf_dir):
    """llm_dedup_clusters' output computed by the alternating
    large-star/small-star algorithm (VERDICT r4 item 5) instead of
    min-label propagation: identical components over the identical
    exact trigram >= 0.5 near-dup graph — both operators hash against
    the same recursive-CTE oracle — but the driver loop converges in
    O(log^2 n) edge-contraction rounds instead of O(diameter)
    propagation rounds. On THIS fixture's cliquey dup graph (diameter
    ~2) the two are comparable; on a chain- or path-shaped graph
    (cross-source boilerplate that mutates gradually) min-label needs
    diameter rounds by construction and this needs ~log n alternations
    — the unit test pins <= 8 alternating rounds on a 64-node chain
    whose diameter would force min-label to 63. The converged round
    count is logged per run (it cannot be an output column: the oracle
    has no way to replay an algorithm-specific round count)."""
    import logging

    d = table(spark, sf_dir, "documents")
    edges = _trigram_exact_pairs(spark, sf_dir).select("d1", "d2")
    labels, rounds = _cc_star_components(spark, d.select("doc_id"), edges)
    logging.getLogger(__name__).info(
        "llm_dedup_clusters_star converged in %d alternating rounds", rounds
    )
    w = Window.partitionBy("component")
    return (
        labels.withColumn("cluster_size", F.count("*").over(w).cast("bigint"))
        .withColumn("is_representative", F.col("doc_id") == F.col("component"))
        .orderBy("doc_id")
    )


@query(
    "llm_dedup_url",
    oracle="""
WITH raw AS (
  SELECT doc_id, n_chars,
         CASE WHEN doc_id % 2 = 1 THEN 'HTTPS://' || upper(source) ELSE
              'https://' || lower(source) END
           || '.example.com/' || lang || '/p' || (doc_id % 40)
           || CASE WHEN doc_id % 3 = 0 THEN '?utm=feed' ELSE '' END
           || CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END AS url
  FROM documents
),
norm AS (
  SELECT doc_id, n_chars,
         lower(regexp_replace(url, '[?#].*$', '')) AS canon
  FROM raw
)
SELECT canon,
       CAST(COUNT(*) AS BIGINT) AS n_dups,
       MIN(doc_id) AS kept_doc,
       CAST(SUM(n_chars) AS BIGINT) AS bytes_clustered
FROM norm GROUP BY canon ORDER BY canon
""",
    family=_FAM,
)
def llm_dedup_url(spark, sf_dir):
    """URL-canonical dedup — the FIRST dedup stage of every web-crawl
    corpus (CCNet/C4 drop exact-URL recrawls before any content
    hashing, cutting the corpus ~2-5x for free). Raw URLs are seeded
    with the real-world noise classes (case-varying scheme/host, utm
    query params, fragments); canonicalization = lowercase + strip
    query/fragment, then keep the smallest doc_id per canonical URL —
    min() as the deterministic survivor rule, where "first crawled"
    would be partition-order luck. One combiner-shape aggregate on the
    canonical-URL key: at 100 TB this is the cheapest possible dedup
    (no content reads — the text column is never touched) and exactly
    why it runs before MinHash."""
    d = table(spark, sf_dir, "documents")
    raw_url = F.concat(
        F.when(
            F.col("doc_id") % 2 == 1,
            F.concat(F.lit("HTTPS://"), F.upper("source")),
        ).otherwise(F.concat(F.lit("https://"), F.lower("source"))),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/p"),
        (F.col("doc_id") % 40),
        F.when(F.col("doc_id") % 3 == 0, F.lit("?utm=feed")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    norm = d.select(
        "doc_id",
        "n_chars",
        F.lower(F.regexp_replace(raw_url, r"[?#].*$", "")).alias("canon"),
    )
    return (
        norm.groupBy("canon")
        .agg(
            F.count("*").cast("bigint").alias("n_dups"),
            F.min("doc_id").alias("kept_doc"),
            F.sum("n_chars").cast("bigint").alias("bytes_clustered"),
        )
        .orderBy("canon")
    )


@query(
    "llm_dedup_incremental",
    oracle="""
WITH base AS (
  SELECT md5(text) AS h FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1
),
batch AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 0
)
SELECT b.doc_id,
       CASE WHEN base.h IS NOT NULL THEN 'dup_base'
            WHEN ROW_NUMBER() OVER (PARTITION BY b.h ORDER BY b.doc_id) > 1
              THEN 'dup_batch'
            ELSE 'keep' END AS verdict
FROM batch b LEFT JOIN base ON b.h = base.h
ORDER BY b.doc_id
""",
    family=_FAM,
)
def llm_dedup_incremental(spark, sf_dir):
    """Incremental dedup — the daily-crawl reality: a NEW batch must
    dedup against the EXISTING corpus without re-deduping the corpus
    itself. Batch docs are checked (1) against the base's distinct
    content-hash set via a left join on md5 — at 100 TB this side
    becomes a bloom-filter prefilter + shuffle-hash join on the ~16-byte
    hash column only, never the text — and (2) within-batch via a
    min-doc_id window (the same deterministic survivor rule as
    dedup_by_key). Every batch doc gets an explicit verdict
    (dup_base / dup_batch / keep) so downstream stages are replayable
    decisions, not implicit row drops."""
    d = table(spark, sf_dir, "documents")
    base = (
        d.filter(F.col("doc_id") % 3 != 0)
        .select(F.md5(F.col("text").cast("binary")).alias("h"))
        .distinct()
        .withColumn("in_base", F.lit(True))
    )
    batch = d.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("h")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("h").orderBy("doc_id")
    return (
        batch.join(base, "h", "left")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            F.when(F.col("in_base"), F.lit("dup_base"))
            .when(F.col("rn") > 1, F.lit("dup_batch"))
            .otherwise(F.lit("keep"))
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


@query(
    "llm_dedup_lsh_stored",
    oracle="""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(l) - 1),
                       i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d
),
tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
pairs AS (
  SELECT b.doc_id AS bid, a.doc_id AS aid, COUNT(*) AS n_common
  FROM tok b JOIN tok a ON a.s = b.s
  WHERE b.doc_id % 3 = 0 AND a.doc_id <> b.doc_id
    AND (a.doc_id % 3 <> 0 OR a.doc_id < b.doc_id)
  GROUP BY b.doc_id, a.doc_id
),
near AS (
  SELECT p.bid, p.aid, (p.aid % 3 <> 0) AS is_base
  FROM pairs p
  JOIN sizes s1 ON p.aid = s1.doc_id
  JOIN sizes s2 ON p.bid = s2.doc_id
  WHERE CAST(p.n_common AS DOUBLE)
        / CAST(s1.sz + s2.sz - p.n_common AS DOUBLE) >= 0.5
),
agg AS (
  SELECT bid,
         MIN(CASE WHEN is_base THEN aid END) AS base_match,
         MIN(CASE WHEN NOT is_base THEN aid END) AS batch_match
  FROM near GROUP BY bid
)
SELECT d.doc_id,
       CASE WHEN a.base_match IS NOT NULL THEN 'dup_base'
            WHEN a.batch_match IS NOT NULL THEN 'dup_batch'
            ELSE 'keep' END AS verdict,
       CASE WHEN a.base_match IS NOT NULL THEN a.base_match
            ELSE a.batch_match END AS matched_doc
FROM documents d LEFT JOIN agg a ON a.bid = d.doc_id
WHERE d.doc_id % 3 = 0
ORDER BY d.doc_id
""",
    family=_FAM,
)
def llm_dedup_lsh_stored(spark, sf_dir):
    """PERSISTED + INCREMENTALLY MAINTAINED MinHash-LSH banding index —
    the near-dup twin of llm_sim_knn_ivf_delta's storage story, and
    what llm_dedup_incremental (exact hashes) looks like at NEAR-dup
    semantics: the daily-crawl corpus keeps a stored posting table of
    (band, h1, h2, doc_id) band buckets; a new batch (doc_id % 3 == 0)
    probes the index with its own band keys in ONE equi-join — base
    and earlier-batch candidates surface together because the index
    already absorbed prior batches — then exact trigram Jaccard >= 0.5
    verifies candidates, and each batch doc gets a replayable verdict
    (dup_base / dup_batch / keep, with the lowest matching doc id).

    Index lifecycle: the base postings publish atomically
    (_publish_store, like the IVF stores), the batch's postings
    APPEND (partitioned by band — append-only, base files never
    rewritten), and because banding membership depends only on the
    row's own signature, base+batch appends are bit-identical to a
    one-shot build. Banding recall on the fixture's bimodal Jaccard is
    empirically 1.0, which the oracle PROVES: it computes the exact
    all-pairs answer with no banding at all, so any pair the stored
    index misses hash-mismatches (same contract as
    llm_dedup_minhash_lsh; llm_dedup_lsh_audit measures the recall
    honestly). At 100 TB the postings partition by (band, bucket
    prefix) and the probe stays one shuffle-equi-join against an
    append-only table; the shingle side is never broadcast."""
    from hdfs_mr_spark.sources.scans import _fixture_dir, _publish_store

    sh = _shingle_frame(spark, sf_dir)
    sig = _minhash_sig(spark, sf_dir)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.col(f"h{2 * b}").alias("h1"),
                F.col(f"h{2 * b + 1}").alias("h2"),
            )
            for b in range(_MINHASH_BANDS)
        ]
    )
    keyed = sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id",
        F.col("bk.band").alias("band"), F.col("bk.h1").alias("h1"),
        F.col("bk.h2").alias("h2"),
    )
    store = _publish_store(
        lambda tmp: keyed.filter(F.col("doc_id") % 3 != 0).write.mode(
            "overwrite"
        ).partitionBy("band").parquet(str(tmp / "postings")),
        _fixture_dir(sf_dir) / "lsh_store",
    )
    post_path = str(store / "postings")
    if not (store / "_batch_done").exists():
        # incremental absorb: append-only, base files never rewritten
        keyed.filter(F.col("doc_id") % 3 == 0).write.mode(
            "append"
        ).partitionBy("band").parquet(post_path)
        (store / "_batch_done").touch()
    stored = spark.read.parquet(post_path).select(
        F.col("doc_id").alias("aid"), "band",
        F.col("h1").alias("g1"), F.col("h2").alias("g2"),
    )
    probe = keyed.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("bid"), "band", "h1", "h2",
    )
    cand = (
        probe.join(
            stored,
            (probe.band == stored.band)
            & (F.col("h1") == F.col("g1")) & (F.col("h2") == F.col("g2"))
            & (F.col("aid") != F.col("bid"))
            & ((F.col("aid") % 3 != 0) | (F.col("aid") < F.col("bid"))),
        )
        .select("bid", "aid")
        .dropDuplicates(["bid", "aid"])
    )
    s1 = sh.select(F.col("doc_id").alias("aid"), F.col("s").alias("s1"),
                   F.col("sz").alias("sz1"))
    s2 = sh.select(F.col("doc_id").alias("bid"), F.col("s").alias("s2"),
                   F.col("sz").alias("sz2"))
    n_common = F.size(F.array_intersect("s1", "s2"))
    jac = n_common.cast("double") / (
        (F.col("sz1") + F.col("sz2") - n_common).cast("double")
    )
    near = (
        cand.join(s1, "aid").join(s2, "bid")
        .select("bid", "aid", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
        .select("bid", "aid", (F.col("aid") % 3 != 0).alias("is_base"))
    )
    agg = near.groupBy("bid").agg(
        F.min(F.when(F.col("is_base"), F.col("aid"))).alias("base_match"),
        F.min(F.when(~F.col("is_base"), F.col("aid"))).alias("batch_match"),
    )
    batch_docs = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 0
    ).select("doc_id")
    return (
        batch_docs.join(agg, batch_docs.doc_id == agg.bid, "left")
        .select(
            "doc_id",
            F.when(F.col("base_match").isNotNull(), "dup_base")
            .when(F.col("batch_match").isNotNull(), "dup_batch")
            .otherwise("keep").alias("verdict"),
            F.when(
                F.col("base_match").isNotNull(), F.col("base_match")
            ).otherwise(F.col("batch_match")).alias("matched_doc"),
        )
        .orderBy("doc_id")
    )


@query(
    "llm_sketch_audit",
    oracle="""
WITH
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(l) - 1),
                       i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d
),
tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.d1, i.d2,
       CAST(i.n_common AS DOUBLE)
         / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) AS jaccard,
       TRUE AS est_within_bound
FROM inter i
JOIN sizes s1 ON i.d1 = s1.doc_id
JOIN sizes s2 ON i.d2 = s2.doc_id
WHERE CAST(i.n_common AS DOUBLE)
        / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) >= 0.5
""",
    family=_FAM,
)
def llm_sketch_audit(spark, sf_dir):
    """Sketch-accuracy audit — the production guardrail for every
    probabilistic dedup path: over the EXACT >= 0.5 near-dup pair set,
    the MinHash agreement estimate (matching signature positions / 24)
    is compared to the exact trigram Jaccard, asserting
    |est - J| <= 0.25 per pair (24 hashes give sd(est) ~= 0.1 at
    J~0.5; measured max error 0.10 on the fixtures — the bound is a
    2.5-sigma guard, tight enough to catch a broken hash seed or band
    layout instantly). The estimate itself rides Spark-native xxhash64
    and is not oracle-computable, so the CHECKED surface is the
    engine-invariant pair set + exact Jaccard + the audit boolean; any
    pair whose sketch drifts out of bound flips the boolean and fails
    the hash-match (same contract as the HLL/approx-quantile audits).

    Scale: signatures are one combiner-shape aggregate (24 longs per
    doc); the audit join touches only the near-dup pairs, not n^2."""
    pairs = _trigram_exact_pairs(spark, sf_dir)
    # r15-opt NOTE: a sig localCheckpoint (both join sides consume it) was
    # A/B-REFUTED (2.34/2.85 base vs 3.02/3.59 dirty) — ReusedExchange
    # already shares the signature exchange between the sides. Left lazy.
    sig = _minhash_sig(spark, sf_dir)
    n_h = 2 * _MINHASH_BANDS
    s1 = sig.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"h{j}").alias(f"a{j}") for j in range(n_h)],
    )
    s2 = sig.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"h{j}").alias(f"b{j}") for j in range(n_h)],
    )
    agree = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(n_h)
    )
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1", "d2", "jaccard",
            (F.abs(agree / float(n_h) - F.col("jaccard")) <= 0.25).alias(
                "est_within_bound"
            ),
        )
    )


@query(
    "llm_dedup_substring",
    oracle="""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
kg AS (
  SELECT doc_id, i, array_to_string(l[i:i+7], ' ') AS g
  FROM tok, LATERAL unnest(range(1, len(l) - 6)) AS u(i)
),
dup AS (
  SELECT g FROM kg GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
),
dpos AS (
  SELECT doc_id, i FROM kg WHERE g IN (SELECT g FROM dup)
),
isl AS (
  SELECT doc_id, i,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM dpos
)
SELECT doc_id,
       CAST(MIN(i) AS BIGINT) AS span_start,
       CAST(MAX(i) + 7 AS BIGINT) AS span_end,
       CAST(MAX(i) + 7 - MIN(i) + 1 AS BIGINT) AS span_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_kgrams
FROM isl
GROUP BY doc_id, grp
ORDER BY doc_id, span_start
""",
    family=_FAM,
)
def llm_dedup_substring(spark, sf_dir):
    """Substring-level exact duplication spans — the ExactSubstr
    formulation of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), re-expressed relationally instead of via
    a suffix array: every 8-token k-gram that occurs in >= 2 distinct
    docs marks its start position as duplicated; maximal runs of
    consecutive duplicated positions merge (gaps-and-islands on
    pos - row_number) into spans [span_start, span_end] a trainer can
    cut, with span_tokens the cut length. Unlike doc-level MinHash this
    catches boilerplate embedded inside otherwise-unique documents —
    the dominant contamination mode in web corpora.

    Scale: the posting list (k-gram -> docs) is the suffix array's
    distributed stand-in. The duplicated-k-gram filter is an unhinted
    shuffle semi-join on the k-gram string (corpus-sized build side —
    never broadcast); islands need one window sort per doc partition.
    Shuffle volume is O(total k-grams); no pairwise doc join ever
    materializes, so dense duplication can't go quadratic."""
    d = table(spark, sf_dir, "documents")
    toks = fan_out(
        d.select("doc_id", F.split("text", " ").alias("l"))
    ).localCheckpoint()
    kg = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "IF(size(l) >= 8,"
                " transform(sequence(1, size(l) - 7),"
                "  i -> concat_ws(' ', slice(l, i, 8))),"
                " array())"
            )
        ).alias("pos0", "g"),
    ).select("doc_id", (F.col("pos0") + 1).alias("i"), "g")
    dup = (
        kg.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    dpos = kg.join(dup, "g", "left_semi").select("doc_id", "i")
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("i")
    isl = dpos.withColumn("grp", F.col("i") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("i").cast("bigint").alias("span_start"),
            (F.max("i") + 7).cast("bigint").alias("span_end"),
            (F.max("i") + 7 - F.min("i") + 1).cast("bigint").alias("span_tokens"),
            F.count("*").cast("bigint").alias("n_kgrams"),
        )
        .select("doc_id", "span_start", "span_end", "span_tokens", "n_kgrams")
        .orderBy("doc_id", "span_start")
    )


@query(
    "llm_dedup_keep_best",
    oracle="""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(l) - 1),
                       i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d
),
tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
edges AS (
  SELECT i.d1, i.d2
  FROM inter i
  JOIN sizes s1 ON i.d1 = s1.doc_id
  JOIN sizes s2 ON i.d2 = s2.doc_id
  WHERE CAST(i.n_common AS DOUBLE)
        / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) >= 0.5
),
bidir AS (
  SELECT d1 AS a, d2 AS b FROM edges
  UNION ALL
  SELECT d2 AS a, d1 AS b FROM edges
),
walk(node, lab) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, w.lab FROM walk w JOIN bidir e ON e.a = w.node
),
comp AS (SELECT node AS doc_id, MIN(lab) AS component FROM walk GROUP BY node),
ranked AS (
  SELECT c.doc_id, c.component, d.n_chars,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
  FROM comp c JOIN documents d ON c.doc_id = d.doc_id
),
winners AS (
  SELECT component, doc_id AS kept_doc_id FROM ranked WHERE rk = 1
)
SELECT r.doc_id, r.component, CAST(r.n_chars AS INTEGER) AS n_chars,
       w.kept_doc_id, r.doc_id = w.kept_doc_id AS keep
FROM ranked r JOIN winners w ON r.component = w.component
ORDER BY r.doc_id
""",
    family=_FAM,
)
def llm_dedup_keep_best(spark, sf_dir):
    """End-to-end dedup survivor selection — the pipeline composition a
    curation run actually ships: near-dup connected components (from
    :func:`llm_dedup_clusters`' label-propagation kernel) joined with a
    quality signal, and ONE winner kept per cluster by (n_chars DESC,
    doc_id ASC) — "keep the longest copy", the Common-Crawl-era default,
    with the doc_id tiebreak making the choice total and replayable.
    Output is the full audit table (every doc, its cluster, the winner
    it lost to) rather than just the keep-list, because removal
    decisions need to be reviewable.

    Scale: rides the cluster kernel's O(diameter)-round propagation;
    the winner selection is one row_number window over the component
    partitioning plus an equi-join of two component-keyed frames —
    nothing new shuffles more than once."""
    comp = llm_dedup_clusters(spark, sf_dir).select("doc_id", "component")
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = comp.join(d, "doc_id").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("component").orderBy(
                F.col("n_chars").desc(), F.col("doc_id").asc()
            )
        ),
    )
    winners = ranked.filter(F.col("rk") == 1).select(
        "component", F.col("doc_id").alias("kept_doc_id")
    )
    return (
        ranked.join(winners, "component")
        .select(
            "doc_id", "component",
            F.col("n_chars").cast("int").alias("n_chars"),
            "kept_doc_id",
            (F.col("doc_id") == F.col("kept_doc_id")).alias("keep"),
        )
        .orderBy("doc_id")
    )


@query(
    "llm_dup_graph_stats",
    oracle="""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(l) - 1),
                       i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d
),
tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
edges AS (
  SELECT i.d1, i.d2
  FROM inter i
  JOIN sizes s1 ON i.d1 = s1.doc_id
  JOIN sizes s2 ON i.d2 = s2.doc_id
  WHERE CAST(i.n_common AS DOUBLE)
        / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) >= 0.5
),
deg AS (
  SELECT d.doc_id, COUNT(e.other) AS degree
  FROM documents d
  LEFT JOIN (
    SELECT d1 AS doc_id, d2 AS other FROM edges
    UNION ALL
    SELECT d2, d1 FROM edges
  ) e ON d.doc_id = e.doc_id
  GROUP BY d.doc_id
)
SELECT CAST(degree AS BIGINT) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM deg
GROUP BY degree
ORDER BY degree
""",
    family=_FAM,
)
def llm_dup_graph_stats(spark, sf_dir):
    """Degree distribution of the near-dup graph — the corpus
    duplication PROFILE (how many docs have 0 / 1 / k near-duplicates)
    that decides which dedup regime to run: a mass at degree 0 with a
    thin tail says pair-listing is fine; a heavy tail says go decision-
    form or clustering (this histogram is how you'd discover the dense
    regime llm_dedup_near documents). Degree-0 docs are kept via the
    left join, so the histogram covers the whole corpus.

    Scale: rides the exact posting-list pair kernel (sub-quadratic);
    degree is a combiner count over the symmetrized edge list; the
    histogram re-aggregates the per-doc degree frame."""
    pairs = _trigram_exact_pairs(spark, sf_dir).select("d1", "d2")
    sym = pairs.select(F.col("d1").alias("doc_id")).unionAll(
        pairs.select(F.col("d2").alias("doc_id"))
    )
    deg_pos = sym.groupBy("doc_id").agg(F.count("*").alias("degree"))
    d = table(spark, sf_dir, "documents").select("doc_id")
    deg = d.join(deg_pos, "doc_id", "left").select(
        F.coalesce(F.col("degree"), F.lit(0)).alias("degree")
    )
    return (
        deg.groupBy("degree")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .select(F.col("degree").cast("bigint").alias("degree"), "n_docs")
        .orderBy("degree")
    )


def _containment_sparse_super(spark, sf_dir):
    """Sparse-regime containment candidates: posting-list prefix
    filtering (Chaudhuri et al. 2006) instead of the dense all-pairs
    mask join. If set(a) ⊆ set(b) then EVERY token of a is shared —
    in particular a's globally RAREST token — so candidates(a) =
    {docs whose posting list contains a's rarest token}, an id-only
    equi-join whose output is Σ_a df(rarest(a)) rows: small exactly
    when the vocabulary is large (the sparse regime), never Θ(n²).

    Verification is the posting-list intersection count (the
    llm_dedup_near_ngram formulation): candidates fan out over a's
    tokens and semi-match b's posting list on (db, w) — an equi-join
    linear in Σ_cand sz(a) — then the exact subset predicate
    nc == sz(a) plus the superset tie-break. Every join is an unhinted
    shuffle equi-join (df table and posting lists are vocab-/corpus-
    sized — never broadcast); the rarest-token pick is a per-doc
    window (doc-partitioned, no global sort); the per-doc MIN(super)
    collapses map-side. Returns (doc_id, subset_of)."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("sz"))
    df_tbl = tok.groupBy("w").agg(F.count("*").alias("df"))
    # deterministic rarest token per doc: (df, w) lexicographic
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("w").asc()
    )
    rare = (
        tok.join(df_tbl, "w")
        .withColumn("__rn", F.row_number().over(w_rank))
        .where(F.col("__rn") == 1)
        .select(F.col("doc_id").alias("da"), "w")
    )
    cand = (
        rare.join(tok.select(F.col("doc_id").alias("db"), "w"), "w")
        .where(F.col("da") != F.col("db"))
        .select("da", "db")
    )
    nc = (
        cand.join(tok.select(F.col("doc_id").alias("da"), "w"), "da")
        .join(tok.select(F.col("doc_id").alias("db"), "w"), ["db", "w"])
        .groupBy("da", "db")
        .agg(F.count("*").alias("nc"))
    )
    qual = (
        nc.join(
            sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sza")),
            "da",
        )
        .join(
            sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("szb")),
            "db",
        )
        .where(
            (F.col("nc") == F.col("sza"))
            & (
                (F.col("szb") > F.col("sza"))
                | ((F.col("szb") == F.col("sza")) & (F.col("db") < F.col("da")))
            )
        )
    )
    return qual.groupBy(F.col("da").alias("doc_id")).agg(
        F.min("db").alias("subset_of")
    )


@query(
    "llm_dedup_containment",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
  FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS nc
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
dir AS (
  SELECT i.d1 AS sub_id, i.d2 AS super_id, i.nc, s1.sz AS ssz, s2.sz AS psz
  FROM inter i
  JOIN sizes s1 ON i.d1 = s1.doc_id
  JOIN sizes s2 ON i.d2 = s2.doc_id
  UNION ALL
  SELECT i.d2, i.d1, i.nc, s2.sz, s1.sz
  FROM inter i
  JOIN sizes s1 ON i.d1 = s1.doc_id
  JOIN sizes s2 ON i.d2 = s2.doc_id
),
super AS (
  SELECT sub_id AS doc_id, MIN(super_id) AS subset_of
  FROM dir
  WHERE nc = ssz AND (psz > ssz OR (psz = ssz AND super_id < sub_id))
  GROUP BY sub_id
)
SELECT d.doc_id, s.subset_of, (s.subset_of IS NULL) AS kept
FROM documents d LEFT JOIN super s ON d.doc_id = s.doc_id
ORDER BY d.doc_id
""",
    family=_FAM,
)
def llm_dedup_containment(spark, sf_dir):
    """Set-containment dedup, decision form: a doc is redundant when
    its distinct-token set is a SUBSET of another doc's (a proper
    superset, or an identical set held by a lower doc_id) — the
    near-subset relation Jaccard misses (a short doc fully quoted
    inside a long one has containment 1.0 but low Jaccard because the
    union is dominated by the long doc). Output is one row per doc:
    (doc_id, subset_of = lowest qualifying superset holder, kept).

    Why decision form and threshold 1.0: a thresholded PAIR-listing
    containment (C >= 0.9) measured 8.28M passing pairs at sf0.1 on
    this dense 31-word-vocabulary corpus — Theta(n^2) OUTPUT, the same
    dense-regime trap llm_dedup_near documents — and with <= 31
    distinct tokens per doc, 0.9*sz rounds up to sz anyway. The O(n)
    decision output is what a 100 TB pipeline consumes.

    Plan is a REGIME SWITCH on vocabulary size (VERDICT r4 item 1),
    mirroring the broadcast/salted memory switch:

    - dense (n_vocab <= conf'd spark.hdfs_mr.containment.vocabCap,
      default _MASK_WORDS_CAP*64): the shared _bitmask_encoded_docs
      kernel — subset is bit_count(a & b) == sz_a on dictionary-
      encoded bigint masks evaluated INSIDE the join (integer ops,
      only qualifying pairs materialize). Candidates are all-pairs
      (size blocking prunes nothing for containment: any larger doc is
      admissible), broadcast probe under the conf'd threshold else the
      salted shuffle — acceptable only BECAUSE the regime is dense:
      with a tiny vocabulary nearly every pair shares tokens anyway,
      so posting lists prune nothing and masks make the residual a
      handful of integer ops.
    - sparse (n_vocab above the cap — every real crawl): posting-list
      prefix-filter candidates on each doc's globally rarest token,
      then the posting-list intersection residual — never all-pairs,
      never a mask column per 64 vocab words. See
      _containment_sparse_super.

    The per-doc MIN(super) collapses map-side (combiner shape) in both
    regimes, and both produce identical output (plan-gated: the sparse
    path is forced on the fixture via the conf and hash-compared)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    n_vocab = corpus_stats.vocab_size(spark, sf_dir)  # cached corpus stat
    vocab_cap = int(
        spark.conf.get(_CONTAINMENT_VOCAB_CAP_CONF, str(_MASK_WORDS_CAP * 64))
    )
    if n_vocab > vocab_cap:
        sup = _containment_sparse_super(spark, sf_dir)
    else:
        enc, mask_cols, n_docs = _bitmask_encoded_docs(
            spark, sf_dir, n_vocab=n_vocab
        )
        n_words = len(mask_cols)
        bcast_limit = _conf_broadcast_bytes(spark)
        a = fan_out(enc).select(
            F.col("doc_id").alias("da"), F.col("sz").alias("sza"),
            *[F.col(m).alias(f"a_{m}") for m in mask_cols],
        )
        b = enc.select(
            F.col("doc_id").alias("db"), F.col("sz").alias("szb"),
            *[F.col(m).alias(f"b_{m}") for m in mask_cols],
        )
        nc = sum(
            (F.bit_count(F.col(f"a_{m}").bitwiseAND(F.col(f"b_{m}")))
             for m in mask_cols),
            F.lit(0),
        )
        qualifies = (nc == F.col("sza")) & (
            (F.col("szb") > F.col("sza"))
            | ((F.col("szb") == F.col("sza")) & (F.col("db") < F.col("da")))
        )
        b_bytes = n_docs * 8 * (n_words + 2)
        if 0 < b_bytes <= bcast_limit:
            passing = a.join(F.broadcast(b), qualifies)
        else:
            # salt is the ONLY equi key here (no size blocking prunes
            # containment candidates), so its cardinality IS the join's
            # parallelism ceiling — wider fan-out than the near kernel,
            # whose (size, salt) key already spreads. Dense-regime
            # only: the sparse branch above never builds this join.
            passing = _salted_pair_join(a, b, qualifies, _NEAR_SALTS * 4, "da")
        sup = passing.groupBy(F.col("da").alias("doc_id")).agg(
            F.min("db").alias("subset_of")
        )
    return (
        d.select("doc_id")
        .join(sup, "doc_id", "left")
        .select("doc_id", "subset_of", F.col("subset_of").isNull().alias("kept"))
        .orderBy("doc_id")
    )


@query(
    "llm_pipeline_clean",
    oracle="""
WITH q AS (
  SELECT doc_id, text,
         (len(string_split(text, ' ')) >= 15 AND n_chars <= 500
          AND lang IN ('en', 'de', 'fr', 'es')) AS q_ok
  FROM documents
),
ex AS (
  SELECT doc_id, sha256(lower(trim(text))) AS h FROM q WHERE q_ok
),
exrep AS (SELECT h, MIN(doc_id) AS rep FROM ex GROUP BY h),
exj AS (SELECT e.doc_id, r.rep FROM ex e JOIN exrep r ON e.h = r.h),
tok AS (
  SELECT d.doc_id, unnest(list_distinct(string_split(d.text, ' '))) AS w
  FROM documents d JOIN exj x ON d.doc_id = x.doc_id AND d.doc_id = x.rep
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS nc
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
near_pairs AS (
  SELECT i.d1, i.d2
  FROM inter i
  JOIN sizes s1 ON i.d1 = s1.doc_id
  JOIN sizes s2 ON i.d2 = s2.doc_id
  WHERE CAST(i.nc AS DOUBLE)
        / CAST(s1.sz + s2.sz - i.nc AS DOUBLE) >= 0.8
),
near_dropped AS (SELECT d2 AS doc_id, MIN(d1) AS rep FROM near_pairs GROUP BY d2)
SELECT d.doc_id,
       CASE WHEN NOT q.q_ok THEN 'quality'
            WHEN ed.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'kept' END AS stage,
       CASE WHEN q.q_ok AND ed.doc_id IS NOT NULL THEN ed.rep
            WHEN q.q_ok AND ed.doc_id IS NULL AND nd.doc_id IS NOT NULL
              THEN nd.rep END AS dup_of
FROM documents d
JOIN q ON q.doc_id = d.doc_id
LEFT JOIN (SELECT doc_id, rep FROM exj WHERE doc_id <> rep) ed
  ON ed.doc_id = d.doc_id
LEFT JOIN near_dropped nd ON nd.doc_id = d.doc_id
ORDER BY d.doc_id
""",
    family=_FAM,
)
def llm_pipeline_clean(spark, sf_dir):
    """End-to-end corpus-cleaning pipeline — the composition a
    training-data user actually runs, registered as ONE auditable
    operator: quality gate (>= 15 tokens, <= 500 chars, target langs —
    llm_quality_filter's rules) -> exact dedup (lowest doc_id per
    content hash survives — llm_dedup_exact's rule) -> near-dup
    decision (distinct-token Jaccard >= 0.8 against a LOWER-id
    survivor — llm_dedup_near_decision's rule, applied to the docs
    still standing). Output is the per-doc disposition table: first
    failing stage + the representative the doc lost to (NULL for
    quality drops and keepers) — the provenance artifact that lets a
    pipeline answer 'why is this doc not in the training set'.

    Near-dup stage semantics are single-hop min-id (near_decision),
    not transitive closure — cluster resolution is llm_dedup_clusters /
    llm_dedup_keep_best's job and composing it here would hide a
    driver-side iteration inside a 'one query' surface.

    Plan: each stage is the already-plan-gated kernel — the quality
    gate fuses into the scan, the exact stage is a combiner-shape
    hash agg + unhinted shuffle join on the hash, the near stage
    reuses _bitmask_near_pairs (size-blocked salted bitmask join)
    restricted to survivors via ids-only semi-ish joins, and the final
    disposition is two LEFT joins on doc_id. Nothing corpus-sized
    broadcasts; every intermediate is O(n) except the near pair set,
    which the bitmask kernel already bounds to the admissible-size
    candidates."""
    d = table(spark, sf_dir, "documents")
    q = d.select(
        "doc_id", "text",
        (
            (F.size(F.split("text", " ")) >= 15)
            & (F.col("n_chars") <= 500)
            & F.col("lang").isin("en", "de", "fr", "es")
        ).alias("q_ok"),
    )
    ex = q.filter("q_ok").select(
        "doc_id", F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("h")
    )
    exrep = ex.groupBy("h").agg(F.min("doc_id").alias("rep"))
    exj = ex.join(exrep, "h").select("doc_id", "rep")
    exact_dropped = exj.filter(F.col("doc_id") != F.col("rep")).select(
        "doc_id", F.col("rep").alias("ex_rep")
    )
    remaining = exj.filter(F.col("doc_id") == F.col("rep")).select(
        "doc_id"
    ).localCheckpoint()  # feeds the kernel's both-sides restriction
    pairs = _bitmask_near_pairs(spark, sf_dir, keep=remaining).select("d1", "d2")
    near_dropped = pairs.groupBy(F.col("d2").alias("doc_id")).agg(
        F.min("d1").alias("near_rep")
    )
    out = (
        q.select("doc_id", "q_ok")
        .join(exact_dropped, "doc_id", "left")
        .join(near_dropped, "doc_id", "left")
    )
    stage = (
        F.when(~F.col("q_ok"), F.lit("quality"))
        .when(F.col("ex_rep").isNotNull(), F.lit("exact_dup"))
        .when(F.col("near_rep").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("kept"))
    )
    dup_of = (
        F.when(F.col("q_ok") & F.col("ex_rep").isNotNull(), F.col("ex_rep"))
        .when(
            F.col("q_ok")
            & F.col("ex_rep").isNull()
            & F.col("near_rep").isNotNull(),
            F.col("near_rep"),
        )
    )
    return out.select(
        "doc_id", stage.alias("stage"), dup_of.alias("dup_of")
    ).orderBy("doc_id")


@query(
    "llm_dedup_near_weighted",
    oracle="""
WITH tok AS (
  SELECT doc_id, w, COUNT(*) AS c FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
  ) GROUP BY doc_id, w
),
tot AS (SELECT doc_id, SUM(c) AS t FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, SUM(LEAST(a.c, b.c)) AS mn
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.d1, i.d2, CAST(i.mn AS BIGINT) AS n_min,
       CAST(i.mn AS DOUBLE)
         / CAST(t1.t + t2.t - i.mn AS DOUBLE) AS jaccard_w
FROM inter i
JOIN tot t1 ON i.d1 = t1.doc_id
JOIN tot t2 ON i.d2 = t2.doc_id
WHERE 17 * i.mn >= 7 * (t1.t + t2.t)
ORDER BY d1, d2
""",
    family=_FAM,
)
def llm_dedup_near_weighted(spark, sf_dir):
    """WEIGHTED (multiset/bag) Jaccard near-dup: J_w = Σ min(c_a, c_b)
    / Σ max(c_a, c_b) over token COUNTS, threshold 0.7 — the form that
    distinguishes docs sharing a vocabulary but repeating it
    differently, which distinct-token Jaccard (llm_dedup_near) is
    blind to by construction. Σmax = t_a + t_b − Σmin, so the
    threshold becomes the exact integer predicate 17·Σmin ≥
    7·(t_a + t_b) — no float at the decision boundary.

    Plan is the near kernel's structure with counts instead of bits:
    docs encode ONCE as dense count vectors over the TeraSort-ranked
    dictionary (dictionary join auto-switches on the broadcast conf;
    Σmin is invariant to the id permutation), candidates are blocked
    by the integer-exact admissible TOTAL range (J_w ≥ 0.7 bounds
    totals within 10/7 of each other — same derivation as the 0.8 size
    band), the Σmin residual is a zip_with/least fold evaluated INSIDE
    the join, and the pair join itself auto-switches between a
    broadcast probe and the shared salted scaffold. Θ(n²)-output
    caveat and the decision-form escape are llm_dedup_near's,
    unchanged."""
    from hdfs_mr_spark.operators.sorts import bucketed_global_rank

    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tc = tok.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    vocab = bucketed_global_rank(
        tok.select("w").distinct(),
        F.pmod(F.xxhash64("w"), F.lit(16)),
        [F.col("w").asc()],
        ["w"],
        "rid",
    ).select("w", (F.col("rid") - 1).cast("int").alias("tid"))
    n_vocab = corpus_stats.vocab_size(spark, sf_dir)  # cached corpus stat
    if n_vocab > _MASK_WORDS_CAP * 64:
        # same dense-regime ceiling as _bitmask_encoded_docs: the count
        # vectors below are n_vocab-wide arrays per doc — past the cap
        # this kernel is the wrong regime, so fail loudly with the
        # sparse alternative named instead of OOMing mid-shuffle
        raise ValueError(
            f"dense count-vector kernel: vocabulary of {n_vocab} tokens "
            f"exceeds the dense-regime cap ({_MASK_WORDS_CAP * 64}). Use a "
            "posting-list weighted-Jaccard formulation (sum-min over "
            "shared tokens, llm_dedup_near_ngram's shape) instead."
        )
    bcast_limit = _conf_broadcast_bytes(spark)
    vj = F.broadcast(vocab) if 0 < n_vocab * 48 <= bcast_limit else vocab
    enc = (
        tc.join(vj, "w")
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("tid"), F.col("c")))
            ).alias("m"),
            F.sum("c").alias("t"),
        )
        .select(
            "doc_id", "t",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_vocab - 1)),
                lambda i: F.coalesce(
                    F.try_element_at("m", i.cast("int")), F.lit(0).cast("bigint")
                ),
            ).alias("cv"),
        )
        .localCheckpoint()
    )
    n_docs = enc.count()
    # integer-exact admissible partner totals: ceil(7t/10) .. floor(10t/7)
    a = fan_out(enc).select(
        F.col("doc_id").alias("d1"), F.col("t").alias("t1"),
        F.col("cv").alias("acv"),
        F.explode(
            F.expr("sequence((t * 7 + 9) div 10, (t * 10) div 7)")
        ).alias("partner_t"),
    )
    b = enc.select(
        F.col("doc_id").alias("d2"), F.col("t").alias("t2"),
        F.col("cv").alias("bcv"),
    )
    # r15-opt NOTE: unrolling this fold into a 31-term element_at chain
    # (the r9 _pq_dist pattern) was A/B-REFUTED catastrophically (3.0 →
    # ~20 s): the expression is a JOIN-CONDITION residual, where big
    # expression trees run interpreted node-per-node and fall out of
    # codegen — exactly _dot's documented finding. Folds stay in join
    # residuals; unrolls only pay inside codegen'd projections/aggregates
    # of narrow arrays (llm_sim_maxsim_colbert's 8-wide case).
    mn = F.aggregate(
        F.zip_with("acv", "bcv", lambda x, y: F.least(x, y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    residual = (
        (F.col("d1") < F.col("d2"))
        & (F.lit(17) * mn >= F.lit(7) * (F.col("t1") + F.col("t2")))
    )
    b_bytes = n_docs * 8 * (n_vocab + 2)
    if 0 < b_bytes <= bcast_limit:
        passing = a.join(
            F.broadcast(b), (F.col("partner_t") == F.col("t2")) & residual
        )
    else:
        passing = _salted_pair_join(
            a, b, (F.col("partner_t") == F.col("t2")) & residual,
            _NEAR_SALTS, "d1",
        )
    jac = mn.cast("double") / (F.col("t1") + F.col("t2") - mn).cast("double")
    return passing.select(
        "d1", "d2", mn.cast("bigint").alias("n_min"), jac.alias("jaccard_w")
    ).orderBy("d1", "d2")


@query(
    "llm_boilerplate_segments",
    oracle="""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
segs AS (
  SELECT b.doc_id,
         md5(array_to_string(b.toks[(t.i - 1) * 8 + 1 : t.i * 8], ' ')) AS h
  FROM base b, unnest(generate_series(1, len(b.toks) // 8)) AS t(i)
),
df AS (
  SELECT h, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY h
)
SELECT s.doc_id,
       COUNT(*) AS n_segs,
       CAST(SUM(CASE WHEN df.df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS boiler_segs,
       CAST(SUM(CASE WHEN df.df >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS boiler_frac
FROM segs s JOIN df ON s.h = df.h
GROUP BY s.doc_id
ORDER BY s.doc_id
""",
    family=_FAM,
)
def llm_boilerplate_segments(spark, sf_dir):
    """CCNet-style boilerplate detection — per-document fraction of
    8-token segments whose exact hash recurs in >= 3 distinct docs
    (headers, footers, navigation chrome in a crawl corpus; the
    removal pass a training pipeline runs before near-dedup, since
    shared boilerplate inflates every pairwise Jaccard).

    Plan: segments are non-overlapping md5-hashed 8-grams, so the
    corpus-frequency table is one combiner-shape COUNT(DISTINCT doc)
    over (hash) — the paragraph analogue of the exact-dedup hash agg —
    and flagging is a hash-only shuffle equi-join (never broadcast:
    the segment-frequency table is corpus-sized, the same build-side
    rule as the tf-idf df join). Per-doc rollup is one more shuffle
    on doc_id. Everything is linear in corpus tokens; no pairwise
    stage exists at any scale."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_full = F.floor(F.size(toks) / F.lit(8)).cast("int")
    segs = (
        d.select(
            "doc_id",
            F.explode(
                F.when(
                    n_full >= 1,
                    F.transform(
                        F.sequence(F.lit(1), n_full),
                        lambda i: F.md5(
                            F.array_join(
                                F.slice(toks, (i - F.lit(1)) * 8 + 1, 8), " "
                            )
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("h"),
        )
    )
    df = segs.groupBy("h").agg(F.countDistinct("doc_id").alias("df"))
    boiler = F.when(F.col("df") >= 3, 1).otherwise(0)
    return (
        segs.join(df, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segs"),
            F.sum(boiler).alias("boiler_segs"),
            (
                F.sum(boiler).cast("double") / F.count("*").cast("double")
            ).alias("boiler_frac"),
        )
        .orderBy("doc_id")
    )


@query(
    "llm_dedup_prefix",
    oracle="""
WITH pref AS (
  SELECT doc_id, n_chars,
         md5(array_to_string(string_split(text, ' ')[1:16], ' ')) AS h
  FROM documents
  WHERE len(string_split(text, ' ')) >= 16
),
fam AS (
  SELECT h, COUNT(*) AS family_size, MIN(doc_id) AS canonical_id,
         CAST(MAX(n_chars) AS BIGINT) AS max_chars
  FROM pref GROUP BY h
)
SELECT p.doc_id, f.canonical_id, f.family_size, f.max_chars,
       p.doc_id <> f.canonical_id AS is_dup
FROM pref p JOIN fam f ON p.h = f.h
WHERE f.family_size >= 2
ORDER BY p.doc_id
""",
    family=_FAM,
)
def llm_dedup_prefix(spark, sf_dir):
    """Prefix-family dedup — documents sharing an identical 16-token
    PREFIX hash (the crawl-truncation artifact class: the same page
    fetched twice with different cutoffs, near-dup by leading content
    even when tails diverge; CC pipelines run this between exact and
    near dedup because it is hash-cheap and catches what exact-hash
    misses). min(doc_id) is the canonical survivor; max_chars shows
    the longest variant a keep-best pass would prefer.

    Plan: one md5 over the first 16 tokens per doc (docs shorter than
    16 tokens can't form a truncation family and are excluded on both
    engines), a combiner-shape family agg on the hash, and a hash-only
    shuffle equi-join back (family table is corpus-sized — never
    broadcast). Linear; the same shape as llm_dedup_exact with a
    prefix key."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    pref = d.filter(F.size(toks) >= 16).select(
        "doc_id", "n_chars",
        F.md5(F.array_join(F.slice(toks, 1, 16), " ")).alias("h"),
    )
    fam = pref.groupBy("h").agg(
        F.count("*").alias("family_size"),
        F.min("doc_id").alias("canonical_id"),
        F.max("n_chars").alias("max_chars"),
    )
    return (
        pref.join(fam, "h")
        .filter(F.col("family_size") >= 2)
        .select(
            "doc_id", "canonical_id", "family_size", "max_chars",
            (F.col("doc_id") != F.col("canonical_id")).alias("is_dup"),
        )
        .orderBy("doc_id")
    )


@query(
    "llm_cross_source_overlap",
    oracle="""
WITH base AS (
  SELECT source, string_split(text, ' ') AS toks FROM documents
),
segs AS (
  SELECT DISTINCT b.source,
         md5(array_to_string(b.toks[(t.i - 1) * 8 + 1 : t.i * 8], ' ')) AS h
  FROM base b, unnest(generate_series(1, len(b.toks) // 8)) AS t(i)
),
per_src AS (SELECT source, COUNT(*) AS n FROM segs GROUP BY source),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS shared_segs
  FROM segs a JOIN segs b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.src_a, p.src_b, p.shared_segs,
       round(CAST(p.shared_segs AS DOUBLE)
             / CAST(pa.n + pb.n - p.shared_segs AS DOUBLE), 6) AS seg_jaccard
FROM pairs p
JOIN per_src pa ON p.src_a = pa.source
JOIN per_src pb ON p.src_b = pb.source
ORDER BY p.src_a, p.src_b
""",
    family=_FAM,
)
def llm_cross_source_overlap(spark, sf_dir):
    """Cross-source contamination matrix — for every pair of sources,
    how many distinct 8-token segments they SHARE, and the Jaccard of
    their segment sets (the inter-snapshot audit a crawl pipeline runs
    to decide whether two feeds are re-serving the same content; exact
    whole-doc hashes find nothing here, segment granularity does).

    Plan: the distinct (source, segment-hash) set is one combiner
    distinct; the pair count is a segment-hash-keyed self equi-join
    whose fan-out per hash is bounded by the SOURCE count (a catalog
    quantity, ~dozens), never by corpus size — so output is at most
    |sources|² rows. The per-source totals frame is source-keyed and
    equally bounded, hence broadcastable by AQE on its own. Linear in
    corpus tokens."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_full = F.floor(F.size(toks) / F.lit(8)).cast("int")
    segs = (
        d.select(
            "source",
            F.explode(
                F.when(
                    n_full >= 1,
                    F.transform(
                        F.sequence(F.lit(1), n_full),
                        lambda i: F.md5(
                            F.array_join(
                                F.slice(toks, (i - F.lit(1)) * 8 + 1, 8), " "
                            )
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("h"),
        )
        .distinct()
    )
    per_src = segs.groupBy("source").agg(F.count("*").alias("n"))
    a = segs.alias("a")
    b = segs.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("shared_segs"))
    )
    pa = per_src.select(
        F.col("source").alias("src_a"), F.col("n").alias("na")
    )
    pb = per_src.select(
        F.col("source").alias("src_b"), F.col("n").alias("nb")
    )
    return (
        pairs.join(pa, "src_a")
        .join(pb, "src_b")
        .select(
            "src_a", "src_b", "shared_segs",
            F.round(
                F.col("shared_segs").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared_segs")).cast(
                    "double"
                ),
                6,
            ).alias("seg_jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


@query(
    "llm_dedup_lsh_audit",
    oracle="""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(l) - 1),
                       i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d
),
tok AS (SELECT doc_id, unnest(shingles) AS sg FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON a.sg = b.sg AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT i.d1, i.d2 FROM inter i
  JOIN sizes s1 ON i.d1 = s1.doc_id
  JOIN sizes s2 ON i.d2 = s2.doc_id
  WHERE CAST(i.n_common AS DOUBLE)
        / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) >= 0.5
),
mh AS (
  SELECT doc_id, t.j,
         MIN(CAST('0x' || substr(md5(sg || ':mh:' || CAST(t.j AS VARCHAR)),
                                 1, 12) AS BIGINT)) AS h
  FROM tok, unnest(generate_series(0, 23)) AS t(j)
  GROUP BY doc_id, t.j
),
sig AS (SELECT doc_id, list(h ORDER BY j) AS hs FROM mh GROUP BY doc_id),
buckets AS (
  SELECT doc_id, t.b AS band, hs[2 * t.b + 1] AS h1, hs[2 * t.b + 2] AS h2
  FROM sig, unnest(generate_series(0, 11)) AS t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM buckets a
  JOIN buckets b ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
                 AND a.doc_id < b.doc_id
),
hit AS (SELECT t.d1, t.d2 FROM truth t JOIN cand c
        ON t.d1 = c.d1 AND t.d2 = c.d2),
m AS (
  SELECT (SELECT COUNT(*) FROM truth) AS n_true,
         (SELECT COUNT(*) FROM cand) AS n_candidates,
         (SELECT COUNT(*) FROM hit) AS n_hit
)
SELECT CAST(n_true AS BIGINT) AS n_true,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_hit AS BIGINT) AS n_hit,
       round(CASE WHEN n_true = 0 THEN 1.0
                  ELSE CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) END, 6)
         AS recall,
       round(CASE WHEN n_candidates = 0 THEN 1.0
                  ELSE CAST(n_hit AS DOUBLE) / CAST(n_candidates AS DOUBLE)
             END, 6) AS precision
FROM m
""",
    family=_FAM,
)
def llm_dedup_lsh_audit(spark, sf_dir):
    """Recall/precision audit of the MinHash banding scheme against
    exact posting-list ground truth — the text-dedup analogue of
    llm_ann_recall_audit: before trusting LSH at 100 TB you measure,
    on a slice, how many true near-dup pairs (trigram Jaccard >= 0.5)
    the band collisions actually surface, and how much candidate
    fan-out you pay per true pair (precision is the verify-stage cost
    model: every candidate buys one exact-Jaccard check).

    Uses md5-derived minhashes (first 12 hex chars as int) instead of
    the production xxhash64 so BOTH engines compute the identical
    sketch — the audit's numbers are bit-reproducible, not just
    Spark's claim about itself. Same r=2 x 12-band geometry as
    llm_dedup_minhash_lsh.

    Plan: ground truth is the sub-quadratic posting-list equi-join
    (shared shingle -> pair, never all-pairs); candidates are an
    id-only band-bucket equi-join; the three counts are combiner
    aggregates cross-joined as 1-row scalar frames."""
    sh = _shingle_frame(spark, sf_dir)
    tok = sh.select("doc_id", F.explode("s").alias("sg"))
    sizes = sh.select("doc_id", "sz")
    a, b = tok.alias("a"), tok.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sg") == F.col("b.sg"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count("*").alias("n_common"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    truth = (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .filter(
            F.col("n_common").cast("double")
            / (F.col("sz1") + F.col("sz2") - F.col("n_common")).cast("double")
            >= 0.5
        )
        .select("d1", "d2")
    )
    n_bands = 12
    hash_cols = [
        F.expr(
            f"CAST(conv(substr(md5(concat(sg, ':mh:', '{j}')), 1, 12),"
            " 16, 10) AS BIGINT)"
        ).alias(f"h{j}")
        for j in range(2 * n_bands)
    ]
    sig = (
        tok.select("doc_id", *hash_cols)
        .groupBy("doc_id")
        .agg(*[F.min(f"h{j}").alias(f"h{j}") for j in range(2 * n_bands)])
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(bn).alias("band"),
                F.col(f"h{2 * bn}").alias("h1"),
                F.col(f"h{2 * bn + 1}").alias("h2"),
            )
            for bn in range(n_bands)
        ]
    )
    # r15-opt NOTE: checkpointing buckets/truth/cand (duplicate-subtree
    # suspicion) was A/B-REFUTED — ReusedExchange already shares the
    # signature exchange between the self-join sides; the barriers made
    # it slower (2.28/2.36 base vs 2.56/3.22 dirty). Left lazy.
    buckets = sig.select(
        "doc_id", F.explode(bands).alias("bk")
    ).select("doc_id", "bk.band", "bk.h1", "bk.h2")
    ba, bb = buckets.alias("ba"), buckets.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.h1") == F.col("bb.h1"))
            & (F.col("ba.h2") == F.col("bb.h2"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("d1"), F.col("bb.doc_id").alias("d2")
        )
        .distinct()
    )
    hit = truth.join(cand, ["d1", "d2"])
    t = truth.agg(F.count("*").alias("n_true"))
    c = cand.agg(F.count("*").alias("n_candidates"))
    h = hit.agg(F.count("*").alias("n_hit"))
    m = t.crossJoin(c).crossJoin(h)
    return m.select(
        "n_true", "n_candidates", "n_hit",
        F.round(
            F.when(F.col("n_true") == 0, F.lit(1.0)).otherwise(
                F.col("n_hit").cast("double") / F.col("n_true").cast("double")
            ),
            6,
        ).alias("recall"),
        F.round(
            F.when(F.col("n_candidates") == 0, F.lit(1.0)).otherwise(
                F.col("n_hit").cast("double")
                / F.col("n_candidates").cast("double")
            ),
            6,
        ).alias("precision"),
    )


def band_keys_of(sig):
    """(doc_id, band, h1, h2) band-bucket rows from a signature frame —
    shared by llm_dedup_lsh_stored and the streaming absorb."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.col(f"h{2 * b}").alias("h1"),
                F.col(f"h{2 * b + 1}").alias("h2"),
            )
            for b in range(_MINHASH_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id",
        F.col("bk.band").alias("band"), F.col("bk.h1").alias("h1"),
        F.col("bk.h2").alias("h2"),
    )


_CDC_POWS = [31 ** j for j in range(8)]  # rolling-hash weights, window 8


def _cdc_hash_terms(char_at):
    """SQL/Spark-shared polynomial window hash: sum_j ord(c[i-7+j])*31^j
    (exact BIGINT: max ~2.4e17). ``char_at(off)`` renders the char
    expression at 1-based position i-7+off."""
    return " + ".join(
        f"{p} * ascii({char_at(j)})" for j, p in enumerate(_CDC_POWS)
    )


@query(
    "llm_dedup_cdc",
    oracle=f"""
WITH pos AS (
  SELECT doc_id, text, length(text) AS n FROM documents
),
bounds AS (
  SELECT doc_id, text, n,
         list_filter(range(8, n + 1),
           i -> ({" + ".join(f"CAST({p} AS BIGINT) * ord(text[i - 7 + {j}])" for j, p in enumerate(_CDC_POWS))}) % 64 = 0
         ) AS cuts
  FROM pos
),
chunked AS (
  SELECT doc_id,
         list_transform(range(1, len(allc)),
           k -> md5(substr(text, allc[k] + 1, allc[k + 1] - allc[k]))) AS hs
  FROM (SELECT doc_id, text,
               list_concat(list_concat([0], cuts), [n]) AS allc
        FROM bounds)
),
ch AS (
  SELECT DISTINCT doc_id, unnest(hs) AS h FROM chunked
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ch GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_common
  FROM ch a JOIN ch b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.d1, i.d2,
       CAST(i.n_common AS BIGINT) AS n_common,
       CAST(s1.sz + s2.sz - i.n_common AS BIGINT) AS n_union,
       CAST(i.n_common AS DOUBLE)
         / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes s1 ON i.d1 = s1.doc_id
JOIN sizes s2 ON i.d2 = s2.doc_id
WHERE CAST(i.n_common AS DOUBLE)
      / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) >= 0.5
ORDER BY d1, d2
""",
    family=_FAM,
)
def llm_dedup_cdc(spark, sf_dir):
    """CONTENT-DEFINED-CHUNKING near-dedup — the storage-dedup
    algorithm family (rsync/LBFS/restic lineage), distinct from every
    shingle/sketch formulation here: chunk boundaries fall where a
    window-8 polynomial rolling hash (sum_j ord(c)*31^j, exact BIGINT)
    hits 0 mod 64, so boundaries are CONTENT-anchored — an insertion
    shifts at most the chunks it touches while every later boundary
    re-synchronizes, which is why CDC detects near-duplicates that
    fixed-size blocking misses entirely. Docs become sets of chunk
    md5s (~64-char expected chunks), candidate pairs flow through a
    posting-list equi-join on the chunk hash (sub-quadratic — only
    docs SHARING a chunk ever pair; the posting table is
    vocabulary-scale and never broadcast), and chunk-set Jaccard >=
    0.5 is the emitted decision with its exact intersection/union
    counts. The DuckDB oracle recomputes the identical rolling hash,
    cuts, and md5 chunk sets, so one off-by-one in any boundary flips
    the hash-check.

    Scale: boundary detection is a per-row projection (no shuffle);
    everything after is the same posting-join discipline as
    llm_dedup_substring. At 100 TB chunk hashes feed the SAME stored
    posting-index lifecycle as llm_dedup_lsh_stored. The per-char ord
    array is bound as a materialized column before the window lambda
    (PERF.md §2b — eight interpreted substring extractions per
    position measured 14 s at sf0.1; array element reads are O(1))."""
    d = table(spark, sf_dir, "documents")
    ords = fan_out(
        d.filter(F.length("text") > 0).select(
            "doc_id", "text",
            F.expr("transform(split(text, ''), c -> ascii(c))").alias("ords"),
        )
    ).localCheckpoint()
    hash_expr = " + ".join(
        f"{p}L * element_at(ords, i - 7 + {j})"
        for j, p in enumerate(_CDC_POWS)
    )
    cuts = (
        f"filter(sequence(8, size(ords)), i -> ({hash_expr}) % 64 = 0)"
    )
    chunks = (
        f"transform(sequence(1, size(allc) - 1), "
        "k -> md5(substring(text, element_at(allc, k) + 1, "
        "element_at(allc, k + 1) - element_at(allc, k))))"
    )
    with_cuts = ords.select(
        "doc_id", "text",
        F.expr(
            f"concat(array(0), {cuts}, array(length(text)))"
        ).alias("allc"),
    )
    # r15-opt (guide §5.4): ch is consumed three times (sizes + both join
    # sides) — the chunk-md5 explode + distinct re-ran 3x; checkpoint once.
    ch = (
        with_cuts.select("doc_id", F.explode(F.expr(chunks)).alias("h"))
        .distinct()
        .localCheckpoint()
    )
    sizes = ch.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = ch.select(F.col("doc_id").alias("d1"), "h")
    b = ch.select(F.col("doc_id").alias("d2"), F.col("h").alias("h2"))
    inter = (
        a.join(b, (a.h == b.h2) & (F.col("d1") < F.col("d2")))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("n_common"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    jac = F.col("n_common").cast("double") / (
        (F.col("sz1") + F.col("sz2") - F.col("n_common")).cast("double")
    )
    return (
        inter.join(s1, "d1").join(s2, "d2")
        .select(
            "d1", "d2",
            F.col("n_common").cast("bigint").alias("n_common"),
            (F.col("sz1") + F.col("sz2") - F.col("n_common"))
            .cast("bigint").alias("n_union"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("d1", "d2")
    )


@query(
    "llm_dedup_lsh_compact",
    oracle="""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(l) - 1),
                       i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d
),
tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
pairs AS (
  SELECT b.doc_id AS bid, a.doc_id AS aid, COUNT(*) AS n_common
  FROM tok b JOIN tok a ON a.s = b.s
  WHERE b.doc_id % 3 = 0 AND a.doc_id <> b.doc_id
    AND (a.doc_id % 3 <> 0 OR a.doc_id < b.doc_id)
  GROUP BY b.doc_id, a.doc_id
),
near AS (
  SELECT p.bid, p.aid, (p.aid % 3 <> 0) AS is_base
  FROM pairs p
  JOIN sizes s1 ON p.aid = s1.doc_id
  JOIN sizes s2 ON p.bid = s2.doc_id
  WHERE CAST(p.n_common AS DOUBLE)
        / CAST(s1.sz + s2.sz - p.n_common AS DOUBLE) >= 0.5
),
agg AS (
  SELECT bid,
         MIN(CASE WHEN is_base THEN aid END) AS base_match,
         MIN(CASE WHEN NOT is_base THEN aid END) AS batch_match
  FROM near GROUP BY bid
)
SELECT d.doc_id,
       CASE WHEN a.base_match IS NOT NULL THEN 'dup_base'
            WHEN a.batch_match IS NOT NULL THEN 'dup_batch'
            ELSE 'keep' END AS verdict,
       CASE WHEN a.base_match IS NOT NULL THEN a.base_match
            ELSE a.batch_match END AS matched_doc
FROM documents d LEFT JOIN agg a ON a.bid = d.doc_id
WHERE d.doc_id % 3 = 0
ORDER BY d.doc_id
""",
    family=_FAM,
)
def llm_dedup_lsh_compact(spark, sf_dir):
    """Index COMPACTION — the third act of the stored-index lifecycle
    (build -> absorb -> compact): append-only absorbs accumulate small
    files per band partition (the classic small-files tax every
    log-structured store pays); this op rewrites the posting table
    into ONE file per band and publishes it as a NEW VERSION behind an
    atomically-swapped pointer file (write-new + os.replace of
    _CURRENT — the snapshot-pointer discipline Delta/Iceberg commits
    use, never an in-place rewrite under readers), then runs the SAME
    probe/verify/verdict query against the COMPACTED version. The
    oracle is the exact all-pairs twin, so the hash-check proves
    compaction is LOSSLESS — identical verdicts from v2 as from the
    fragmented v1 — and a layout test pins one-file-per-band plus the
    intact v1. At 100 TB compaction is the scheduled maintenance job
    that keeps probe-side file listings O(bands), and the version
    pointer is what lets it run without blocking ingestion."""
    import os
    import shutil

    from hdfs_mr_spark.sources.scans import _fixture_dir

    sh = _shingle_frame(spark, sf_dir)
    keyed = band_keys_of(minhash_sig_of(sh))
    store = _fixture_dir(sf_dir) / "lsh_store_compact"

    def current_version() -> str | None:
        cur = store / "_CURRENT"
        return cur.read_text().strip() if cur.exists() else None

    def publish(version: str, expected: str | None) -> None:
        # CAS pointer swap (cas_publish_current): refuse if _CURRENT
        # moved since this writer read it — single-writer contract
        cas_publish_current(store, version, expected)

    if current_version() is None:
        if store.exists():
            shutil.rmtree(store, ignore_errors=True)
        tmp = store.parent / f"{store.name}.tmp.{os.getpid()}"
        # v1: base build + one append-only absorb (the fragmented state
        # compaction exists to clean up)
        keyed.filter(F.col("doc_id") % 3 != 0).write.mode(
            "overwrite"
        ).partitionBy("band").parquet(str(tmp / "v1"))
        try:
            os.rename(tmp, store)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not store.exists():
                raise
        keyed.filter(F.col("doc_id") % 3 == 0).write.mode(
            "append"
        ).partitionBy("band").parquet(str(store / "v1"))
        publish("v1", None)
    if current_version() == "v1":
        # COMPACT: rewrite v1 into one file per band, publish as v2.
        # repartition("band") co-locates each band in one task, so each
        # band directory receives exactly one part file.
        spark.read.parquet(str(store / "v1")).repartition("band").write.mode(
            "overwrite"
        ).partitionBy("band").parquet(str(store / "v2"))
        publish("v2", "v1")
    post_path = str(store / current_version())
    stored = spark.read.parquet(post_path).select(
        F.col("doc_id").alias("aid"), "band",
        F.col("h1").alias("g1"), F.col("h2").alias("g2"),
    )
    probe = keyed.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("bid"), "band", "h1", "h2",
    )
    cand = (
        probe.join(
            stored,
            (probe.band == stored.band)
            & (F.col("h1") == F.col("g1")) & (F.col("h2") == F.col("g2"))
            & (F.col("aid") != F.col("bid"))
            & ((F.col("aid") % 3 != 0) | (F.col("aid") < F.col("bid"))),
        )
        .select("bid", "aid")
        .dropDuplicates(["bid", "aid"])
    )
    s1 = sh.select(F.col("doc_id").alias("aid"), F.col("s").alias("s1"),
                   F.col("sz").alias("sz1"))
    s2 = sh.select(F.col("doc_id").alias("bid"), F.col("s").alias("s2"),
                   F.col("sz").alias("sz2"))
    n_common = F.size(F.array_intersect("s1", "s2"))
    jac = n_common.cast("double") / (
        (F.col("sz1") + F.col("sz2") - n_common).cast("double")
    )
    near = (
        cand.join(s1, "aid").join(s2, "bid")
        .select("bid", "aid", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
        .select("bid", "aid", (F.col("aid") % 3 != 0).alias("is_base"))
    )
    agg = near.groupBy("bid").agg(
        F.min(F.when(F.col("is_base"), F.col("aid"))).alias("base_match"),
        F.min(F.when(~F.col("is_base"), F.col("aid"))).alias("batch_match"),
    )
    batch_docs = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 0
    ).select("doc_id")
    return (
        batch_docs.join(agg, batch_docs.doc_id == agg.bid, "left")
        .select(
            "doc_id",
            F.when(F.col("base_match").isNotNull(), "dup_base")
            .when(F.col("batch_match").isNotNull(), "dup_batch")
            .otherwise("keep").alias("verdict"),
            F.when(
                F.col("base_match").isNotNull(), F.col("base_match")
            ).otherwise(F.col("batch_match")).alias("matched_doc"),
        )
        .orderBy("doc_id")
    )


@query(
    "llm_dedup_bloom",
    oracle="""
WITH hashed AS (
  SELECT doc_id, sha256(lower(trim(text))) AS h FROM documents
),
base AS (SELECT doc_id, h FROM hashed WHERE doc_id % 3 <> 0),
batch AS (SELECT doc_id, h FROM hashed WHERE doc_id % 3 = 0)
SELECT b.doc_id,
       CAST(MIN(a.doc_id) AS BIGINT) AS dup_of,
       (MIN(a.doc_id) IS NULL) AS is_new
FROM batch b LEFT JOIN base a ON a.h = b.h
GROUP BY b.doc_id
ORDER BY b.doc_id
""",
    family=_FAM,
)
def llm_dedup_bloom(spark, sf_dir):
    """BLOOM-prefiltered incremental exact dedup — the ingest-side
    shape of llm_dedup_exact at 100 TB: new batch docs (doc_id%3==0)
    check their normalized content hash against the existing corpus
    (doc_id%3!=0), and a 16-kbit relational bloom built from the BASE
    hashes (the join_bloom_prefilter kernels, shared) prefilters the
    batch as a broadcast projection, so non-duplicate docs — the
    overwhelming majority of a real crawl — never shuffle into the
    hash equi-join at all. False positives die in the exact join;
    false negatives are structurally impossible, which the oracle
    PROVES: it replays the plain (bloomless) left join, so any batch
    doc the bloom wrongly dropped would hash-mismatch as a missing
    dup verdict.

    Plan: one combiner aggregate builds the bloom words, one broadcast
    carries the 256-entry map, and the residual exact join sees only
    bloom-surviving batch rows + the base side. At 100 TB the bloom is
    a persisted artifact maintained beside the corpus (bloom union =
    bit_or of word frames, see the streaming LSH absorb)."""
    from hdfs_mr_spark.operators.joins import (
        bloom_map_of,
        bloom_prefilter,
        bloom_words_of,
    )

    d = table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id", F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("h")
    )
    base = hashed.filter(F.col("doc_id") % 3 != 0)
    batch = hashed.filter(F.col("doc_id") % 3 == 0)
    bloom = bloom_map_of(bloom_words_of(base, F.col("h")))
    maybe = bloom_prefilter(batch, bloom, F.col("h"))
    hits = (
        maybe.join(
            base.select(F.col("doc_id").alias("aid"), F.col("h").alias("h2")),
            F.col("h") == F.col("h2"),
        )
        .groupBy("doc_id")
        .agg(F.min("aid").alias("dup_of"))
    )
    return (
        batch.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("dup_of").cast("bigint").alias("dup_of"),
            F.col("dup_of").isNull().alias("is_new"),
        )
        .orderBy("doc_id")
    )
