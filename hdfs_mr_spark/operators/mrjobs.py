"""MapReduce-canonical composite jobs (SURVEY.md §2.9).

These are the end-to-end workloads the reference system class exists to
run — word count, grep, inverted index, TeraSort, reduce-side join —
re-expressed as single declarative DataFrame chains. Each one collapses
what MR runs as 1-3 chained jobs (with DFS materialization in between)
into one Catalyst plan with no intermediate materialization.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hdfs_mr_spark.exprs import dsum, relax, sql_dsum
from hdfs_mr_spark.io import fan_out, table
from hdfs_mr_spark.registry import query

_FAM = "2.9 MR composite jobs"


_EDGE_CTES = """
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
),
edges AS (
  SELECT i.d1, i.d2 FROM inter i
  JOIN sizes s1 ON i.d1 = s1.doc_id
  JOIN sizes s2 ON i.d2 = s2.doc_id
  WHERE CAST(i.n_common AS DOUBLE)
        / CAST(s1.sz + s2.sz - i.n_common AS DOUBLE) >= 0.5
)"""

# The doc graph's symmetric edge list (mr_pagerank, mr_triangle_count,
# mr_clustering_coeff).
_BIDIR_CTE = """bidir AS (
  SELECT d1 AS src, d2 AS dst FROM edges
  UNION ALL
  SELECT d2 AS src, d1 AS dst FROM edges
)"""


def _pagerank_round_sql(i: int) -> str:
    """One unrolled PageRank round as a DuckDB CTE (twin of the Spark
    loop in mr_pagerank)."""
    return f"""
r{i} AS (
  SELECT n.doc_id,
         CAST(150000 + (850 * COALESCE(SUM(p.r // dg.deg), 0)) // 1000 AS BIGINT) AS r
  FROM documents n
  LEFT JOIN bidir e ON e.dst = n.doc_id
  LEFT JOIN r{i - 1} p ON p.doc_id = e.src
  LEFT JOIN deg dg ON dg.src = e.src
  GROUP BY n.doc_id
)"""


def _kmeans_round_sql(i: int) -> str:
    """One unrolled Lloyd iteration as DuckDB CTEs (twin of the Spark
    loop in mr_kmeans)."""
    return f"""
d{i} AS (
  SELECT v.vec_id, c.cid,
         SUM((v.val - c.cval) * (v.val - c.cval)) AS d
  FROM vdim v JOIN c{i - 1} c ON v.pos = c.pos
  GROUP BY v.vec_id, c.cid
),
a{i} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cid ASC) AS rk
    FROM d{i}
  ) WHERE rk = 1
),
c{i} AS (
  SELECT a.cid, v.pos, SUM(v.val) // COUNT(*) AS cval
  FROM a{i} a JOIN vdim v ON v.vec_id = a.vec_id
  GROUP BY a.cid, v.pos
)"""


@query(
    "mr_wordcount",
    oracle="""
SELECT u.word, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) u
GROUP BY u.word
ORDER BY n DESC, u.word ASC
""",
    family=_FAM,
)
def mr_wordcount(spark, sf_dir):
    """THE MapReduce job: tokenize -> explode -> count per word. Catalyst
    plans partial aggregation before the shuffle — the combiner, free."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
    )


@query(
    "mr_wordcount_rdd",
    oracle="""
SELECT u.word, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) u
GROUP BY u.word
ORDER BY n DESC, u.word ASC
""",
    family=_FAM,
)
def mr_wordcount_rdd(spark, sf_dir):
    """The RDD escape hatch, demonstrated literally (VERDICT r1 item 5):
    the same wordcount as raw flatMap/map/reduceByKey — the 1:1
    transliteration of a hand-written MapReduce job (map = tokenize,
    combine/reduce = reduceByKey's map-side partial aggregation, the
    original MR combiner), bridged back to a DataFrame for the oracle.
    This is the compatibility path for per-partition imperative logic
    the DataFrame API can't express; it pays row-at-a-time Python
    serialization, so the declarative twin (mr_wordcount) is the
    performance path — same oracle proves both."""
    d = table(spark, sf_dir, "documents")
    counts = (
        d.select("text")
        .rdd.flatMap(lambda row: row["text"].split(" "))
        .map(lambda w: (w, 1))
        .reduceByKey(lambda a, b: a + b)
    )
    return (
        spark.createDataFrame(counts, "word string, n long")
        .orderBy(F.col("n").desc(), F.col("word").asc())
    )


@query(
    "mr_grep",
    oracle="""
SELECT doc_id, lang, CAST(strpos(text, 'shuffle') AS INTEGER) AS match_pos
FROM documents
WHERE regexp_matches(text, 'shuffle (sort|merge)')
""",
    family=_FAM,
)
def mr_grep(spark, sf_dir):
    """Distributed grep with match position — the canonical MR filter job."""
    d = table(spark, sf_dir, "documents")
    return d.filter(F.col("text").rlike("shuffle (sort|merge)")).select(
        "doc_id", "lang", F.instr("text", "shuffle").cast("int").alias("match_pos")
    )


@query(
    "mr_inverted_index",
    oracle="""
SELECT u.word,
       array_to_string(list_sort(list_distinct(array_agg(u.doc_id))), ',')
         AS doc_ids,
       CAST(COUNT(DISTINCT u.doc_id) AS BIGINT) AS df
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) u
GROUP BY u.word
ORDER BY u.word
""",
    family=_FAM,
)
def mr_inverted_index(spark, sf_dir):
    """Inverted index: token -> sorted posting list of doc_ids (the shape
    every search engine's index build takes). The posting list ships as
    a canonical CSV string on both engines — the driver's value hasher
    takes scalar cells only."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_set("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("doc_ids"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy("word")
    )


@query(
    "mr_sort",
    oracle="""
SELECT l_orderkey, l_linenumber, l_extendedprice,
       CAST(row_number() OVER (
         ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
       ) AS BIGINT) AS global_rank
FROM lineitem
""",
    family=_FAM,
)
def mr_sort(spark, sf_dir):
    """TeraSort analogue: full-table global sort with the rank
    materialized, distributed via bucket offsets + per-bucket
    row_number (operators/sorts.bucketed_global_rank) — no
    single-partition window stage at any scale."""
    from hdfs_mr_spark.operators.sorts import bucketed_global_rank

    li = table(spark, sf_dir, "lineitem")
    # extendedprice spans [~900, ~105000]: ~110 fixed DESC-aligned ranges
    bucket = F.floor((F.lit(110000.0) - F.col("l_extendedprice")) / F.lit(1000.0))
    return bucketed_global_rank(
        li,
        bucket,
        [
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
        ["l_orderkey", "l_linenumber", "l_extendedprice"],
        "global_rank",
    )


@query(
    "mr_join_agg",
    oracle=f"""
SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS order_year,
       COUNT(*) AS n_lineitems,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name, year(o_orderdate)
ORDER BY n_name, order_year
""",
    family=_FAM,
)
def mr_join_agg(spark, sf_dir):
    """Reduce-side join + aggregate: revenue per nation per year. In MR
    this is two chained jobs (join, then agg) materialized through the
    DFS; here it is one plan — fact shuffles once, dims broadcast."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.count("*").alias("n_lineitems"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
        .orderBy("n_name", "order_year")
    )


@query(
    "mr_pagerank",
    oracle=f"""
WITH {_EDGE_CTES},
{_BIDIR_CTE},
deg AS (SELECT src, COUNT(*) AS deg FROM bidir GROUP BY src),
r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM documents),"""
    + ",".join(_pagerank_round_sql(i) for i in range(1, 6))
    + """
SELECT r5.doc_id, r5.r AS rank_micro,
       CAST(COALESCE(dg.deg, 0) AS BIGINT) AS degree
FROM r5 LEFT JOIN deg dg ON dg.src = r5.doc_id
ORDER BY r5.doc_id
""",
    family=_FAM,
)
def mr_pagerank(spark, sf_dir):
    """PageRank — THE canonical chained-MapReduce workload (the original
    MR papers' showcase) — over the trigram near-dup graph: 5 power
    iterations, damping 0.85, each iteration one join+aggregate round
    (in MR terms: one full map/shuffle/reduce pass materialized through
    the DFS; here the five rounds compose into ONE lazy Catalyst plan —
    no intermediate materialization at all, the exact thing MR cannot
    do; the only checkpoints are the loop invariants: the symmetric
    edge list, the edges with their source degree, and the edge-node
    set). All rank arithmetic is integer micro-units (rank div deg,
    (850*sum) div 1000), so partial-aggregation order can't perturb a
    single bit and DuckDB replays the identical 5 unrolled iterations.
    Isolated docs converge to the damping floor 0.15; 2-cliques hold the
    1.0 fixed point — both verified by the oracle hash. Edges come from
    the exact posting-list kernel, not the probabilistic LSH candidates:
    the graph must equal the exact >= 0.5 definition on any corpus
    (ADVICE r1)."""
    from hdfs_mr_spark.operators.llm_dedup import _trigram_exact_pairs

    d = table(spark, sf_dir, "documents")
    edges = _trigram_exact_pairs(spark, sf_dir).select("d1", "d2")
    bidir = edges.union(
        edges.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).select(F.col("d1").alias("src"), F.col("d2").alias("dst")).localCheckpoint()
    deg = bidir.groupBy("src").agg(F.count("*").alias("deg"))
    # r15-opt (guide §2.4): the round body was 3 joins + a documents
    # re-scan — (bidir x ranks x deg) then a left join back onto ALL doc
    # ids (46 Exchanges / 30 SortMergeJoins over 5 unrolled rounds). Two
    # structural facts remove two of the three: (1) deg is loop-invariant,
    # so it rides ON the checkpointed edge list (ed), never re-joined;
    # (2) the graph is SYMMETRIC, so every edge endpoint has an in-edge
    # and contrib's dst set IS the edge-node set — the per-round left
    # join against all docs collapses to a projection of contrib itself.
    # Isolated docs never send or receive rank: they sit at the damping
    # floor 150000 from round 1 (the old left join's coalesce(s,0) path),
    # stitched in ONCE at the end via an anti-join. Same integer
    # arithmetic on the same groups -> bit-identical ranks.
    ed = bidir.join(deg, "src").localCheckpoint()
    en = ed.select(F.col("src").alias("doc_id")).distinct().localCheckpoint()
    ranks = en.select("doc_id", F.lit(1000000).cast("bigint").alias("r"))
    for _ in range(5):
        contrib = (
            ed.join(ranks, ed.src == ranks.doc_id)
            .select("dst", F.expr("r div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = contrib.select(
            F.col("dst").alias("doc_id"),
            F.expr("cast(150000 + (850 * s) div 1000 as bigint)").alias("r"),
        )
    edge_part = ranks.join(deg, ranks.doc_id == deg.src).select(
        "doc_id",
        F.col("r").alias("rank_micro"),
        F.col("deg").cast("bigint").alias("degree"),
    )
    iso = d.select("doc_id").join(en, "doc_id", "left_anti").select(
        "doc_id",
        F.lit(150000).cast("bigint").alias("rank_micro"),
        F.lit(0).cast("bigint").alias("degree"),
    )
    return edge_part.unionByName(iso).orderBy("doc_id")


@query(
    "mr_kmeans",
    oracle="""
WITH vdim AS (
  SELECT e.vec_id, CAST(p.pos AS INTEGER) AS pos,
         CAST(round(CAST(e.embedding[p.pos] AS DOUBLE) * 1000000) AS BIGINT) AS val
  FROM embeddings e,
       LATERAL unnest(range(1, len(e.embedding) + 1)) AS p(pos)
),
c0 AS (SELECT vec_id AS cid, pos, val AS cval FROM vdim WHERE vec_id < 8),"""
    + ",".join(_kmeans_round_sql(i) for i in (1, 2, 3))
    + """
SELECT a3.vec_id, CAST(a3.cid AS BIGINT) AS cluster,
       CAST(COUNT(*) OVER (PARTITION BY a3.cid) AS BIGINT) AS cluster_size
FROM a3
ORDER BY a3.vec_id
""",
    family=_FAM,
)
def mr_kmeans(spark, sf_dir):
    """K-means over the embeddings — the second canonical iterative-MR
    workload next to PageRank (the Mahout-era benchmark pair): k=8
    centroids seeded from the first 8 vectors, 3 Lloyd iterations, all
    composed into one lazy Catalyst plan. Fully relational formulation:
    vectors live in long (vec_id, pos, val) dim format, distances are a
    pos-equi-join + partial/final aggregate, centroid updates an
    integer-mean aggregate — no interpreted folds anywhere. All
    arithmetic is integer micro-units (components quantized once to
    1e-6; means use integer div), so sums commute and DuckDB's 3
    unrolled CTE iterations hash-match bit-for-bit. The per-iteration
    shuffle keys (pos for distances, (cid, pos) for updates) are
    uniform by construction — no skew at any scale."""
    e = table(spark, sf_dir, "embeddings")
    vdim = fan_out(
        e.select(
            "vec_id",
            F.posexplode(F.col("embedding")).alias("pos", "x"),
        ).select(
            "vec_id", "pos",
            F.expr("cast(round(cast(x as double) * 1000000) as bigint)").alias("val"),
        )
    ).localCheckpoint()  # consumed by every iteration's dist + update joins
    c = vdim.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "pos", F.col("val").alias("cval")
    )
    for _ in range(3):
        d = (
            vdim.join(F.broadcast(c), "pos")
            .groupBy("vec_id", "cid")
            .agg(F.sum((F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))).alias("d"))
        )
        # r15-opt (guide §2.3, the r13 decimal-key lesson): the per-round
        # row_number window (shuffle + SORT of every (vec, cid) distance
        # row by vec_id) becomes a combiner-shape MIN over the packed key
        # d*8 + cid — bit-identical to ORDER BY d ASC, cid ASC picking
        # rank 1, since cid < 8 and d <= 64*(2e6)^2 so d*8 + 7 < 2^61
        # cannot collide or overflow. Partial aggregation collapses the
        # 8 candidate rows per vector map-side before the exchange.
        a = (
            d.groupBy("vec_id")
            .agg(F.min(F.col("d") * 8 + F.col("cid")).alias("_k"))
            .select("vec_id", (F.col("_k") % 8).cast("bigint").alias("cid"))
        )
        c = (
            a.join(vdim, "vec_id")
            .groupBy("cid", "pos")
            .agg(F.expr("sum(val) div count(*)").alias("cval"))
        )
    wsz = Window.partitionBy("cid")
    return (
        a.withColumn("cluster_size", F.count("*").over(wsz).cast("bigint"))
        .select("vec_id", F.col("cid").cast("bigint").alias("cluster"), "cluster_size")
        .orderBy("vec_id")
    )


def _oriented_triangles(spark, sf_dir):
    """Degree-ordered oriented-triangle enumeration over the exact
    near-dup graph. Returns ``(tri, deg)``: each triangle exactly once
    as (a, b, c), and the undirected degree per node — shared by
    mr_triangle_count and mr_clustering_coeff."""
    from hdfs_mr_spark.operators.llm_dedup import _trigram_exact_pairs

    edges = _trigram_exact_pairs(spark, sf_dir).select("d1", "d2")
    bidir = edges.union(
        edges.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    )
    deg = bidir.groupBy(F.col("d1").alias("node")).agg(F.count("*").alias("deg"))
    okey = deg.select("node", (F.col("deg") * 100000000 + F.col("node")).alias("k"))
    ka = okey.select(F.col("node").alias("d1"), F.col("k").alias("ka"))
    kb = okey.select(F.col("node").alias("d2"), F.col("k").alias("kb"))
    lt = F.col("ka") < F.col("kb")
    oriented = (
        edges.join(ka, "d1")
        .join(kb, "d2")
        .select(
            F.when(lt, F.col("d1")).otherwise(F.col("d2")).alias("src"),
            F.when(lt, F.col("d2")).otherwise(F.col("d1")).alias("dst"),
            F.when(lt, F.col("kb")).otherwise(F.col("ka")).alias("kdst"),
        )
        .localCheckpoint()
    )
    w1 = oriented.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("kdst").alias("k1")
    )
    w2 = oriented.select(
        F.col("src").alias("a2"), F.col("dst").alias("c"), F.col("kdst").alias("k2")
    )
    w3 = oriented.select(F.col("src").alias("b3"), F.col("dst").alias("c3"))
    tri = (
        w1.join(w2, (F.col("a") == F.col("a2")) & (F.col("k1") < F.col("k2")))
        .join(w3, (F.col("b") == F.col("b3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    return tri, deg


@query(
    "mr_triangle_count",
    oracle=f"""
WITH
{_EDGE_CTES},
{_BIDIR_CTE},
deg AS (SELECT src AS node, COUNT(*) AS deg FROM bidir GROUP BY src),
okey AS (SELECT node, deg * 100000000 + node AS k FROM deg),
oriented AS (
  SELECT CASE WHEN ka.k < kb.k THEN e.d1 ELSE e.d2 END AS src,
         CASE WHEN ka.k < kb.k THEN e.d2 ELSE e.d1 END AS dst,
         CASE WHEN ka.k < kb.k THEN kb.k ELSE ka.k END AS kdst
  FROM edges e
  JOIN okey ka ON ka.node = e.d1
  JOIN okey kb ON kb.node = e.d2
),
tri AS (
  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
  FROM oriented w1
  JOIN oriented w2 ON w1.src = w2.src AND w1.kdst < w2.kdst
  JOIN oriented w3 ON w3.src = w1.dst AND w3.dst = w2.dst
),
member AS (
  SELECT unnest([a, b, c]) AS node FROM tri
)
SELECT node AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM member GROUP BY node ORDER BY doc_id
""",
    family=_FAM,
)
def mr_triangle_count(spark, sf_dir):
    """Triangle counting over the exact near-dup graph — the canonical
    multi-round MR graph benchmark (Cohen 2009's MapReduce graph suite;
    near-dup cliques make triangles abundant here). Uses the
    degree-ordered ORIENTATION algorithm, not the naive wedge join: each
    undirected edge is directed from its (degree, id)-smaller endpoint
    to the larger, so every wedge fan-out is bounded by arboricity
    (O(sqrt(E)) out-degree even on power-law graphs) instead of the max
    degree — THE difference between a plan that survives a 100 TB
    power-law graph and one whose hub nodes produce quadratic wedge
    blowup. Each triangle is enumerated exactly once (its orientation-
    minimal vertex is the wedge apex), so no /3 correction or distinct
    pass is needed. Three self-equi-joins + one aggregate; the oriented
    edge list is localCheckpointed since it's consumed three times."""
    tri, _deg = _oriented_triangles(spark, sf_dir)
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
        .orderBy("doc_id")
    )


@query(
    "mr_matrix_multiply",
    oracle="""
WITH
a AS (
  SELECT l_orderkey % 97 AS i, l_suppkey % 16 AS k,
         SUM(CAST(l_quantity AS BIGINT)) AS av
  FROM lineitem GROUP BY 1, 2
),
b AS (
  SELECT s_suppkey % 16 AS k, s_nationkey % 10 AS j,
         SUM((s_suppkey % 7) + 1) AS bw
  FROM supplier GROUP BY 1, 2
)
SELECT a.i, b.j, CAST(SUM(a.av * b.bw) AS BIGINT) AS cval
FROM a JOIN b ON a.k = b.k
GROUP BY a.i, b.j
ORDER BY a.i, b.j
""",
    family=_FAM,
)
def mr_matrix_multiply(spark, sf_dir):
    """Sparse matrix multiply C = A x B — the textbook two-job MR
    workload (job 1: map tags cells with their k and the reduce joins
    A-row/B-column cells; job 2: sum products by (i, j)). Relationally
    it is join-on-k + aggregate-on-(i,j), and the critical scale move is
    AGGREGATE BEFORE JOIN: both operand matrices are first reduced to
    their distinct (row, k) / (k, col) cells, so the join input is the
    matrix's sparsity pattern, not the raw fact table — at 100 TB the
    pre-aggregations are map-side-combined partial HashAggregates and
    the join ships only O(nnz) cells. Dense blocks would use the same
    plan with (i-block, k-block) grid keys as the shuffle partitioning.
    All-integer values keep the product sums exact under any partial-
    aggregation order."""
    li = table(spark, sf_dir, "lineitem")
    su = table(spark, sf_dir, "supplier")
    a = (
        li.select(
            (F.col("l_orderkey") % 97).alias("i"),
            (F.col("l_suppkey") % 16).alias("k"),
            F.col("l_quantity").cast("bigint").alias("v"),
        )
        .groupBy("i", "k")
        .agg(F.sum("v").alias("av"))
    )
    b = (
        su.select(
            (F.col("s_suppkey") % 16).alias("k"),
            ((F.col("s_nationkey") % 10)).alias("j"),
            ((F.col("s_suppkey") % 7) + 1).alias("w"),
        )
        .groupBy("k", "j")
        .agg(F.sum("w").alias("bw"))
    )
    return (
        a.join(F.broadcast(b), "k")
        .groupBy("i", "j")
        # DECIMAL(38,0) accumulator (r11 overflow audit): av is a
        # quantity sum over an O(rows/160) block, so av*bw reaches
        # ~9.5e18 per term at TPC-H sf~1e5 (the 100 TB point) — the one
        # product-sum here whose int64 bound is NOT provable. DuckDB's
        # oracle SUM is HUGEINT already; output stays BIGINT, so the
        # hash is unchanged wherever int64 sufficed.
        .agg(
            F.sum((F.col("av") * F.col("bw")).cast("decimal(38,0)"))
            .cast("bigint").alias("cval")
        )
        .orderBy("i", "j")
    )


@query(
    "mr_tera_validate",
    oracle="""
WITH h AS (
  SELECT o_totalprice, o_orderkey,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 10))::BIGINT AS rh
  FROM orders
),
ord AS (
  SELECT o_totalprice, o_orderkey, rh,
         lag(o_totalprice) OVER w AS pp,
         lag(o_orderkey)  OVER w AS pk
  FROM h
  WINDOW w AS (ORDER BY o_totalprice ASC, o_orderkey ASC)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT_IF(pp > o_totalprice
                     OR (pp = o_totalprice AND pk > o_orderkey)) AS BIGINT)
         AS n_violations,
       CAST(SUM(rh) AS BIGINT) AS checksum
FROM ord
""",
    family=_FAM,
)
def mr_tera_validate(spark, sf_dir):
    """TeraValidate — the companion job to TeraSort (mr_sort): prove a
    range-partitioned sort IS globally sorted without ever funneling the
    data through one task. Three facts are established distributedly:
    (1) every partition is internally sorted (vectorized adjacent-pair
    scan inside mapInPandas, carrying the last key across Arrow
    batches); (2) partition boundaries are ordered (each partition's
    [min,max] summary — 1 row per partition — joined to its successor's
    on pid+1); (3) a content checksum (sum of 40-bit md5-derived row
    hashes, bounded < 2^57 so an int64 sum cannot overflow) matches the
    source, proving no row was lost or duplicated by the exchange.

    100 TB stance: the validation scan is embarrassingly parallel and
    single-pass per partition; only P summary rows (P = partitions)
    reach the boundary check, so the plan scales with partition count,
    not data volume — exactly the original TeraValidate contract. The
    oracle recomputes all three facts with a serial global window."""
    o = table(spark, sf_dir, "orders").select(
        "o_totalprice",
        "o_orderkey",
        F.expr(
            "CAST(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 10), 16, 10)"
            " AS BIGINT)"
        ).alias("rh"),
    )
    parts = (
        o.repartitionByRange(16, F.col("o_totalprice"), F.col("o_orderkey"))
        .sortWithinPartitions("o_totalprice", "o_orderkey")
    )

    def summarize(batches):
        import numpy as np
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        n = 0
        viol = 0
        cks = 0
        prev = None  # (price, key) of the previous row, across batches
        mn = mx = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            p = pdf["o_totalprice"].to_numpy()
            k = pdf["o_orderkey"].to_numpy()
            viol += int(
                ((p[:-1] > p[1:]) | ((p[:-1] == p[1:]) & (k[:-1] > k[1:]))).sum()
            )
            if prev is not None and (
                prev[0] > p[0] or (prev[0] == p[0] and prev[1] > k[0])
            ):
                viol += 1
            if mn is None:
                mn = (float(p[0]), int(k[0]))
            mx = (float(p[-1]), int(k[-1]))
            prev = (float(p[-1]), int(k[-1]))
            n += len(pdf)
            cks += int(pdf["rh"].sum())
        if n == 0:
            return
        yield pd.DataFrame(
            {
                "pid": np.array([pid], dtype="int64"),
                "n_rows": np.array([n], dtype="int64"),
                "n_violations": np.array([viol], dtype="int64"),
                "min_price": np.array([mn[0]], dtype="float64"),
                "min_key": np.array([mn[1]], dtype="int64"),
                "max_price": np.array([mx[0]], dtype="float64"),
                "max_key": np.array([mx[1]], dtype="int64"),
                "checksum": np.array([cks], dtype="int64"),
            }
        )

    summary = parts.mapInPandas(
        summarize,
        schema=(
            "pid bigint, n_rows bigint, n_violations bigint, "
            "min_price double, min_key bigint, "
            "max_price double, max_key bigint, checksum bigint"
        ),
    )
    # Boundary order check: partition i's max must be <= partition i+1's
    # min. Range partition ids are key-ordered by construction, so a
    # pid->pid+1 self-join (P rows, broadcast) sees every boundary.
    s = summary.alias("s")
    nxt = summary.select(
        (F.col("pid") - 1).alias("ppid"),
        F.col("min_price").alias("nmin_price"),
        F.col("min_key").alias("nmin_key"),
    ).alias("n")
    joined = s.join(F.broadcast(nxt), F.col("s.pid") == F.col("ppid"), "left")
    boundary_bad = F.when(
        (F.col("max_price") > F.col("nmin_price"))
        | (
            (F.col("max_price") == F.col("nmin_price"))
            & (F.col("max_key") > F.col("nmin_key"))
        ),
        1,
    ).otherwise(0)
    return joined.agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        (F.sum("n_violations") + F.sum(boundary_bad)).cast("bigint").alias(
            "n_violations"
        ),
        F.sum("checksum").cast("bigint").alias("checksum"),
    )


# The customer-part purchase incidence and its symmetric edge list
# (mr_bfs, mr_label_propagation; mr_sssp adds the weight).
_PURCHASE_CTES = """inc AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE l.l_quantity >= 40
),
bidir AS (
  SELECT 'c' || c AS src, 'p' || p AS dst FROM inc
  UNION ALL
  SELECT 'p' || p, 'c' || c FROM inc
)"""


def _purchase_graph(spark, sf_dir):
    """The customer-part purchase incidence of mr_bfs, mr_sssp and
    mr_label_propagation: one row per (cnode, pnode) pair joined by a
    high-quantity line (l_quantity >= 40), with w the smallest such
    quantity. Nodes are namespaced 'c<custkey>' and 'p<partkey>'. It is
    checkpointed because each query reads it more than once."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 40)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("cnode"),
            F.concat(F.lit("p"), F.col("l_partkey")).alias("pnode"),
        )
        .agg(F.min("l_quantity").cast("bigint").alias("w"))
        .localCheckpoint()
    )


def _purchase_paths(spark, sf_dir, w):
    """Shortest distances within 4 hops over the purchase graph with
    edge weight ``w``, from every customer whose key is a multiple of
    500: ``node, d`` for every node reached."""
    inc = _purchase_graph(spark, sf_dir)
    edges = inc.select(
        F.col("cnode").alias("src"), F.col("pnode").alias("dst"), w.alias("w")
    ).union(inc.select("pnode", "cnode", w))
    seeds = (
        inc.select(F.col("cnode").alias("node"))
        .distinct()
        .filter(F.substring("node", 2, 100).cast("bigint") % 500 == 0)
        .select("node", F.lit(0).cast("bigint").alias("d"))
        .localCheckpoint()
    )
    return relax(edges, seeds, 4)[0]


@query(
    "mr_bfs",
    oracle=f"""
WITH RECURSIVE {_PURCHASE_CTES},
bfs(node, lvl) AS (
  SELECT 'c' || c, 0 FROM (SELECT DISTINCT c FROM inc) WHERE c % 500 = 0
  UNION ALL
  SELECT e.dst, b.lvl + 1 FROM bfs b JOIN bidir e ON e.src = b.node
  WHERE b.lvl < 4
)
SELECT node, CAST(MIN(lvl) AS INTEGER) AS hop
FROM bfs GROUP BY node
""",
    family=_FAM,
)
def mr_bfs(spark, sf_dir):
    """Multi-source BFS, 4 hops, over the customer-part purchase graph —
    the chained-MR graph-traversal classic (one MR pass per hop in the
    Hadoop formulation; 'degrees of separation' shape). Nodes are
    namespaced customers and parts; the graph is BIPARTITE INCIDENCE
    (customer—bought—part, high-quantity lines only), traversed
    directly: co-purchase 'customers sharing a part' clique edges are
    never materialized — a clique expansion is quadratic per part and
    is exactly what dies first at 100 TB, while the incidence list is
    linear in the fact table.

    Scale design: BFS is shortest paths with unit weights, so it runs
    on exprs.relax, the delta relaxation mr_sssp uses. Each round
    expands only the nodes first reached in the round before, so
    per-round shuffle volume tracks the frontier and total work is
    O(|E|) over all rounds (Pregel discipline); each round's merge is
    localCheckpoint'ed to cut the iterative lineage. The oracle replays
    the definition as a level-bounded recursive CTE + MIN(lvl): BFS
    first-discovery level IS the minimum level, so they agree."""
    return _purchase_paths(spark, sf_dir, F.lit(1)).select(
        "node", F.col("d").cast("int").alias("hop")
    )


@query(
    "mr_merkle_checksum",
    oracle="""
WITH leaf AS (
  SELECT o_orderkey % 64 AS bucket,
         md5(string_agg(
           md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)
               || '|' || o_orderstatus),
           '' ORDER BY o_orderkey)) AS leaf_hash,
         COUNT(*) AS n_rows
  FROM orders GROUP BY o_orderkey % 64
)
SELECT md5(string_agg(leaf_hash, '' ORDER BY bucket)) AS root_hash,
       CAST(COUNT(*) AS BIGINT) AS n_leaves,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows
FROM leaf
""",
    family=_FAM,
)
def mr_merkle_checksum(spark, sf_dir):
    """Merkle-style table checksum — the HDFS/DistCp block-checksum
    story as a two-level relational job: per-row content hashes fold
    into per-bucket leaf hashes (hash of the bucket's row hashes in key
    order), and the leaf hashes fold into one root hash. Two tables
    with equal roots are byte-identical on the hashed columns; with
    unequal roots, comparing the 64 leaf rows locates the divergent
    bucket without rescanning — the O(log) drill-down that makes
    cross-cluster replication audits tractable at 100 TB.

    Determinism: Spark side sorts each bucket's hashes with
    array_sort-free explicit ordering (sort_array over collect_list of
    (key, hash) structs), DuckDB with string_agg ORDER BY — same
    canonical order, so the roots are comparable across engines, runs,
    and partitionings (the checksum is layout-independent by
    construction). Scale: leaf hashing is a combiner-unfriendly but
    bucket-local aggregate (64 shuffle keys); only 64 leaf rows reach
    the root fold."""
    o = table(spark, sf_dir, "orders")
    rowh = F.md5(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
        )
    )
    leaf = (
        o.select((F.col("o_orderkey") % 64).alias("bucket"),
                 F.struct(F.col("o_orderkey").alias("k"), rowh.alias("h")).alias("kh"))
        .groupBy("bucket")
        .agg(
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(F.collect_list("kh")), lambda s: s["h"]
                    ),
                )
            ).alias("leaf_hash"),
            F.count("*").alias("n_rows"),
        )
    )
    return leaf.select(
        F.struct(F.col("bucket").alias("b"), F.col("leaf_hash").alias("h")).alias("bh"),
        "n_rows",
    ).agg(
        F.md5(
            F.concat_ws(
                "", F.transform(F.array_sort(F.collect_list("bh")), lambda s: s["h"])
            )
        ).alias("root_hash"),
        F.count("*").cast("bigint").alias("n_leaves"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
    )


@query(
    "mr_clustering_coeff",
    oracle=f"""
WITH
{_EDGE_CTES},
{_BIDIR_CTE},
deg AS (SELECT src AS node, COUNT(*) AS deg FROM bidir GROUP BY src),
okey AS (SELECT node, deg * 100000000 + node AS k FROM deg),
oriented AS (
  SELECT CASE WHEN ka.k < kb.k THEN e.d1 ELSE e.d2 END AS src,
         CASE WHEN ka.k < kb.k THEN e.d2 ELSE e.d1 END AS dst,
         CASE WHEN ka.k < kb.k THEN kb.k ELSE ka.k END AS kdst
  FROM edges e
  JOIN okey ka ON ka.node = e.d1
  JOIN okey kb ON kb.node = e.d2
),
tri AS (
  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
  FROM oriented w1
  JOIN oriented w2 ON w1.src = w2.src AND w1.kdst < w2.kdst
  JOIN oriented w3 ON w3.src = w1.dst AND w3.dst = w2.dst
),
member AS (
  SELECT unnest([a, b, c]) AS node FROM tri
),
tcnt AS (SELECT node, COUNT(*) AS t FROM member GROUP BY node)
SELECT d.node AS doc_id,
       CAST(d.deg AS BIGINT) AS degree,
       CAST(COALESCE(t.t, 0) AS BIGINT) AS n_triangles,
       CAST(2 * COALESCE(t.t, 0) * 1000000 // (d.deg * (d.deg - 1)) AS BIGINT)
         AS lcc_ppm
FROM deg d LEFT JOIN tcnt t ON t.node = d.node
WHERE d.deg >= 2
ORDER BY doc_id
""",
    family=_FAM,
    tags=("ordered",),
)
def mr_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient per node — 2*T(v) / (deg(v) *
    (deg(v)-1)), the transitivity statistic that separates clique-like
    near-dup clusters (lcc=1) from chain/star artifacts (lcc~0), which
    is exactly the triage a dedup-graph audit needs before picking
    cluster representatives. Rides the shared degree-ordered triangle
    enumeration (_oriented_triangles): same arboricity-bounded wedge
    join as mr_triangle_count, then one left join back to the degree
    relation so zero-triangle nodes keep an explicit lcc of 0. The
    coefficient is emitted in integer ppm (2*T*1e6 DIV deg*(deg-1)) —
    exact, order-independent, no float division to diverge across
    engines."""
    tri, deg = _oriented_triangles(spark, sf_dir)
    tcnt = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("t"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tcnt, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.col("deg").cast("bigint").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("n_triangles"),
            F.expr(
                "CAST(2 * COALESCE(t, 0) * 1000000 DIV (deg * (deg - 1)) AS BIGINT)"
            ).alias("lcc_ppm"),
        )
        .orderBy("doc_id")
    )


@query(
    "mr_sssp",
    oracle="""
WITH RECURSIVE inc AS (
  SELECT o.o_custkey AS c, l.l_partkey AS p,
         CAST(MIN(l.l_quantity) AS BIGINT) AS w
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE l.l_quantity >= 40
  GROUP BY o.o_custkey, l.l_partkey
),
bidir AS (
  SELECT 'c' || c AS src, 'p' || p AS dst, w FROM inc
  UNION ALL
  SELECT 'p' || p, 'c' || c, w FROM inc
),
sp(node, d, hops) AS (
  SELECT 'c' || c, CAST(0 AS BIGINT), 0
  FROM (SELECT DISTINCT c FROM inc) WHERE c % 500 = 0
  UNION ALL
  SELECT e.dst, s.d + e.w, s.hops + 1
  FROM sp s JOIN bidir e ON e.src = s.node
  WHERE s.hops < 4
)
SELECT node, CAST(MIN(d) AS BIGINT) AS dist
FROM sp GROUP BY node
""",
    family=_FAM,
)
def mr_sssp(spark, sf_dir):
    """Weighted single-source (multi-seed) shortest path, Bellman-Ford
    relaxation bounded to 4 hops, over the same bipartite purchase
    incidence graph as mr_bfs — edge weight = MIN(l_quantity) over the
    lines forming the customer—part edge (exact BIGINT, so path sums
    never see float order effects).

    The MR classic is one relax-pass per job; here each round is one
    equi-join + combiner min, run by exprs.relax (shared with mr_bfs
    and llm_dedup_clusters). A round relaxes ONLY nodes whose tentative
    distance improved last round (classic delta Bellman-Ford — a
    settled node's out-edges were already relaxed with its final
    distance, re-relaxing them cannot produce anything new), so shuffle
    volume per round tracks the improving frontier, not |V|. Each
    round's candidate set collapses map-side (groupBy min BEFORE the
    merge join), the merge is localCheckpoint'ed to cut lineage, and an
    early-exit fires when a round improves nothing. The hop bound makes
    the semantics 'shortest distance using <= 4 edges' — exactly what
    the oracle's level-bounded recursive CTE + MIN(d) enumerates."""
    return _purchase_paths(spark, sf_dir, F.col("w")).select(
        "node", F.col("d").alias("dist")
    )


@query(
    "mr_pipe_streaming",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT word, CAST(COUNT(*) AS BIGINT) AS n
FROM tok WHERE word <> ''
GROUP BY word
ORDER BY n DESC, word ASC
""",
    family=_FAM,
)
def mr_pipe_streaming(spark, sf_dir):
    """Hadoop Streaming, literally: the mapper is an EXTERNAL process
    (`tr -s ' ' '\\n'`, stdin->stdout, one token per line) that each
    task pipes its partition through — `rdd.pipe()` is the 1:1
    analogue of `hadoop jar hadoop-streaming.jar -mapper ...`, the
    compatibility path for the awk/perl/binary mappers an MR shop has
    accumulated. The reduce side stays in Spark (combiner-shape count
    per token), and the oracle is the same wordcount in SQL — so the
    external process's token stream must agree byte-for-byte with
    string_split, proving the pipe adds or drops nothing.

    Scale: one external process per task (not per row), streaming
    through the partition with bounded memory — exactly Hadoop
    Streaming's contract; the cost is one serialization to text and
    back, which is why mr_wordcount (declarative) and mr_wordcount_rdd
    (native RDD) are the preferred paths when the mapper CAN be
    ported. Empty lines from the squeeze are filtered like Streaming's
    own empty-key convention."""
    d = table(spark, sf_dir, "documents")
    tokens = (
        d.select("text")
        .rdd.map(lambda row: row["text"])
        .pipe("tr -s ' ' '\\n'")
        .map(lambda w: (w,))
    )
    return (
        spark.createDataFrame(tokens, "word string")
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word").asc())
    )


@query(
    "mr_accumulators",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_records,
       CAST(COUNT(*) FILTER (WHERE l_quantity >= 40) AS BIGINT) AS n_high_qty,
       CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_seen
FROM lineitem
""",
    family=_FAM,
)
def mr_accumulators(spark, sf_dir):
    """Hadoop COUNTERS, the MR job-observability primitive, as Spark
    accumulators: a single mapPartitions pass tallies record counts,
    predicate hits, and an exact integer checksum into driver-side
    accumulators while the job runs — the pattern for side-channel
    metrics a pipeline logs without a second aggregation job. The
    accumulated values are then emitted as the result row, and the
    oracle recomputes them relationally: agreement proves the pass saw
    every record exactly once.

    Correctness discipline accumulators REQUIRE (their classic trap):
    updates from re-executed transformation stages double-count, so
    the tallying pass must be consumed by EXACTLY ONE action with no
    caching/AQE re-use — here one count() drives the single job, and
    the result frame is built from the settled values afterwards. At
    cluster scale task RETRIES can still inflate transformation-stage
    accumulators (only action/foreach accumulators get the
    exactly-once guarantee) — which is why the relational twin
    (agg_global / this oracle) remains the auditable source of truth
    and counters stay an observability channel, not an answer. That
    caveat is the point of registering this op with an oracle."""
    sc = spark.sparkContext
    n_records = sc.accumulator(0)
    n_high = sc.accumulator(0)
    n_disc = sc.accumulator(0)
    cents = sc.accumulator(0)

    def tally(batches):
        # r15-opt (guide §4.2): same accumulator channel, vectorized —
        # each Arrow batch contributes ONE .add() per counter with the
        # numpy-summed increment instead of a Python row loop over
        # pickled Row objects (the adds still happen inside the single
        # tallying action, so the exactly-once discipline is unchanged).
        # floor(x*100 + 0.5) = SQL round() half-away-from-zero for the
        # positive prices (int() truncation == floor for non-negative);
        # python round()/Series.round would be banker's and diverge on
        # exact halves.
        import numpy as np
        import pandas as pd

        for pdf in batches:
            n_records.add(len(pdf))
            n_high.add(int((pdf["l_quantity"] >= 40).sum()))
            n_disc.add(int((pdf["l_discount"] > 0.05).sum()))
            p = pdf["l_extendedprice"].to_numpy()
            cents.add(int(np.floor(p * 100.0 + 0.5).astype(np.int64).sum()))
            yield pd.DataFrame({"one": [1]})

    li = table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_discount", "l_extendedprice"
    )
    # the ONE action driving the pass
    li.mapInPandas(tally, "one int").write.format("noop").mode(
        "overwrite"
    ).save()
    return spark.createDataFrame(
        [(n_records.value, n_high.value, n_disc.value, cents.value)],
        "n_records bigint, n_high_qty bigint, n_discounted bigint, cents_seen bigint",
    )


def _lpa_round_sql(prev: str, out: str) -> str:
    return f"""
{out}_cnt AS (
  SELECT e.dst AS node, l.lbl, COUNT(*) AS c
  FROM {prev} l JOIN bidir e ON e.src = l.node
  GROUP BY e.dst, l.lbl
),
{out} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, lbl ASC) AS rn
    FROM {out}_cnt
  ) WHERE rn = 1
)"""


def _lpa_round(labels, edges):
    """One synchronous LPA round: each ``dst`` of ``edges`` takes the
    most frequent ``lbl`` among its ``src`` neighbours, the smallest on
    a tie (mode with deterministic=True)."""
    return (
        labels.join(edges, F.col("node") == F.col("src"))
        .groupBy(F.col("dst").alias("node"))
        .agg(F.mode("lbl", True).alias("lbl"))
    )


@query(
    "mr_label_propagation",
    oracle=f"""
WITH {_PURCHASE_CTES},
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM bidir),
{_lpa_round_sql('l0', 'l1')},
{_lpa_round_sql('l1', 'l2')},
{_lpa_round_sql('l2', 'l3')}
SELECT l3.node, l3.lbl AS community,
       CAST(COUNT(*) OVER (PARTITION BY l3.lbl) AS BIGINT) AS community_size
FROM l3
ORDER BY node
""",
    family=_FAM,
)
def mr_label_propagation(spark, sf_dir):
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007), 3 rounds over the purchase incidence graph — the
    last graph classic next to BFS/SSSP/PageRank/components/triangles:
    every node adopts its neighbors' MOST FREQUENT label each round,
    ties broken to the lexicographically smallest label (LPA's
    classic nondeterminism — random tie-breaks and asynchronous
    update order — is replaced by a total order and synchronous
    rounds, which is what makes an oracle possible at all; bounded
    rounds are also the honest contract, since unbounded synchronous
    LPA can oscillate on bipartite graphs — this one IS bipartite, so
    a fixpoint loop would never be correct here).

    Scale: each round is one equi-join against the edge list + one
    per-node mode aggregate — shuffle volume O(|E|) per round, labels
    localCheckpoint'ed so the 3-round lineage never re-executes.
    mode(lbl, deterministic=True) picks the smallest of the most
    frequent labels: the oracle's ORDER BY c DESC, lbl ASC."""
    inc = _purchase_graph(spark, sf_dir)
    edges = inc.select(
        F.col("cnode").alias("src"), F.col("pnode").alias("dst")
    ).union(inc.select("pnode", "cnode"))
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    ).localCheckpoint()
    for _ in range(3):
        labels = _lpa_round(labels, edges).localCheckpoint()
    # community size via combiner groupBy + join, NOT a window
    # partitioned by label: a dominant community would make that
    # window one giant partition (the skew shape the plan gates exist
    # to forbid); the count table is |communities| rows
    sizes = labels.groupBy("lbl").agg(
        F.count("*").cast("bigint").alias("community_size")
    )
    return (
        labels.join(sizes, "lbl")
        .select(
            "node", F.col("lbl").alias("community"), "community_size"
        )
        .orderBy("node")
    )


@query(
    "mr_apriori",
    oracle="""
WITH b AS (
  SELECT DISTINCT l_orderkey AS oid,
         CAST(floor(sqrt(l_partkey % 144)) AS BIGINT) AS item
  FROM lineitem
),
n AS (SELECT COUNT(DISTINCT oid) AS n_baskets FROM b),
l1 AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS support
  FROM b GROUP BY item
  HAVING COUNT(*) * 5 >= (SELECT n_baskets FROM n)
),
l2 AS (
  SELECT x.item AS ia, y.item AS ib, CAST(COUNT(*) AS BIGINT) AS support
  FROM b x
  JOIN b y ON x.oid = y.oid AND x.item < y.item
  WHERE x.item IN (SELECT item FROM l1)
    AND y.item IN (SELECT item FROM l1)
  GROUP BY x.item, y.item
  HAVING COUNT(*) * 5 >= (SELECT n_baskets FROM n)
)
SELECT CAST(1 AS BIGINT) AS set_size, item AS item_a,
       CAST(NULL AS BIGINT) AS item_b, support
FROM l1
UNION ALL
SELECT CAST(2 AS BIGINT), ia, ib, support FROM l2
ORDER BY set_size, item_a, item_b
""",
    family=_FAM,
)
def mr_apriori(spark, sf_dir):
    """A-PRIORI frequent-itemset mining (Agrawal & Srikant, VLDB'94 —
    the canonical two-round MapReduce workload after wordcount):
    baskets are orders, items a triangular-skewed part bucket
    (floor(sqrt(partkey%144)) — item k carries weight (2k+1)/144, so
    the 20% support threshold genuinely discriminates: a handful of
    head items pass level 1, most candidate pairs die at level 2).
    Level 1 is a combiner groupBy; level 2 generates candidates ONLY
    from frequent items — the baskets are pre-filtered by a BROADCAST
    semi-join against L1 before the within-basket self-join, which is
    the a-priori downward-closure prune doing real work: the pair
    expansion is bounded by (frequent items per basket choose 2), not
    (basket size choose 2).

    Scale: L1 is map-side-combined counting; the L2 self-join is an
    equi-join on basket id whose fan-out the prune bounds, then a
    second combiner aggregate — shuffle volume O(candidate
    occurrences), never O(baskets²). The support threshold is applied
    by joining the broadcast 1-row basket count (integer cross-multiply,
    no float ratio)."""
    li = table(spark, sf_dir, "lineitem")
    b = (
        li.select(
            F.col("l_orderkey").alias("oid"),
            F.floor(F.sqrt(F.col("l_partkey") % 144))
            .cast("bigint").alias("item"),
        )
        .distinct()
        # r15-opt NOTE: a localCheckpoint here (5 lazy consumers) was
        # A/B-REFUTED (2.00/1.67 base vs 2.40/2.77 dirty) — the barrier
        # costs more than the shared re-expansion. Left lazy.
    )
    tot = b.agg(F.countDistinct("oid").alias("n_baskets"))
    l1 = (
        b.groupBy("item")
        .agg(F.count("*").cast("bigint").alias("support"))
        .join(F.broadcast(tot))
        .filter(F.col("support") * 5 >= F.col("n_baskets"))
    )
    freq = l1.select("item")
    bf = b.join(F.broadcast(freq), "item")  # downward-closure prune
    pairs = (
        bf.select(F.col("oid"), F.col("item").alias("ia"))
        .join(
            bf.select(F.col("oid"), F.col("item").alias("ib")),
            "oid",
        )
        .filter(F.col("ia") < F.col("ib"))
    )
    l2 = (
        pairs.groupBy("ia", "ib")
        .agg(F.count("*").cast("bigint").alias("support"))
        .join(F.broadcast(tot))
        .filter(F.col("support") * 5 >= F.col("n_baskets"))
    )
    return (
        l1.select(
            F.lit(1).cast("bigint").alias("set_size"),
            F.col("item").alias("item_a"),
            F.lit(None).cast("bigint").alias("item_b"),
            "support",
        )
        .unionByName(
            l2.select(
                F.lit(2).cast("bigint").alias("set_size"),
                F.col("ia").alias("item_a"),
                F.col("ib").alias("item_b"),
                "support",
            )
        )
        .orderBy("set_size", "item_a", "item_b")
    )


def _hits_round_sql(i: int) -> str:
    """One unrolled HITS round as DuckDB CTEs (lockstep twin of the
    Spark loop in mr_hits; HUGEINT mirrors DECIMAL(38,0))."""
    prev = f"h{i - 1}"
    return f"""
a{i}r AS (SELECT p, SUM(h) AS raw FROM e JOIN {prev} USING (s) GROUP BY p),
a{i} AS (SELECT p, CAST(CAST(raw AS HUGEINT) * 1000000
                        // (SELECT SUM(raw) FROM a{i}r) AS BIGINT) AS a
         FROM a{i}r),
h{i}r AS (SELECT s, SUM(a) AS raw FROM e JOIN a{i} USING (p) GROUP BY s),
h{i} AS (SELECT s, CAST(CAST(raw AS HUGEINT) * 1000000
                        // (SELECT SUM(raw) FROM h{i}r) AS BIGINT) AS h
         FROM h{i}r)"""


@query(
    "mr_hits",
    oracle="""
WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
h0 AS (SELECT s_suppkey AS s, CAST(1000000 AS BIGINT) AS h FROM supplier),"""
    + ",".join(_hits_round_sql(i) for i in (1, 2, 3))
    + """
, deg AS (SELECT s, COUNT(*) AS n_parts FROM e GROUP BY s)
SELECT sup.s_suppkey,
       CAST(COALESCE(h3.h, 0) AS BIGINT) AS hub_micro,
       CAST(COALESCE(deg.n_parts, 0) AS BIGINT) AS n_parts
FROM supplier sup
LEFT JOIN h3 ON h3.s = sup.s_suppkey
LEFT JOIN deg ON deg.s = sup.s_suppkey
ORDER BY sup.s_suppkey
""",
    family=_FAM,
)
def mr_hits(spark, sf_dir):
    """HITS hubs & authorities (Kleinberg 1999) — the OTHER canonical
    chained-MapReduce link-analysis job next to mr_pagerank, on a
    DIRECTED BIPARTITE graph where the mutual-reinforcement semantics
    are native: supplier -> part supply edges (distinct pairs from
    lineitem). A supplier is a good HUB if it supplies parts that are
    good AUTHORITIES; a part is a good authority if good hubs supply
    it. Three full hub->authority->hub rounds, each one join+aggregate
    pass per direction (in MR terms: two map/shuffle/reduce passes per
    round, materialized through the DFS; here all six compose into ONE
    lazy Catalyst plan over the checkpointed edge set). The L1
    normalization that keeps HITS from diverging is integer-exact:
    scores scale to micro-units by 1e6 * raw DIV total with the
    product promoted to DECIMAL(38,0) (DuckDB: HUGEINT — the agg_gini
    twin-promotion), so partial-aggregation order cannot perturb a bit
    and the oracle replays the identical three unrolled rounds.

    Scale: each half-round shuffles O(|E|) contributions keyed by the
    receiving side, with map-side partial sums (combiner shape); the
    normalization total is a 1-row broadcast attach, never a
    single-partition window. Degree skew (a part everyone supplies)
    is an aggregation hot key, not a join explosion — AQE handles it;
    the edge set is checkpointed once and consumed by all rounds."""
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    e = (
        li.select(F.col("l_suppkey").alias("s"),
                  F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint()
    )

    def _scale(raw_df, key, out_col):
        tot = raw_df.agg(
            F.sum("raw").cast("decimal(38,0)").alias("tot")
        )
        return raw_df.crossJoin(F.broadcast(tot)).select(
            key,
            F.expr(
                "CAST(CAST(raw AS DECIMAL(38,0)) * 1000000 DIV tot"
                " AS BIGINT)"
            ).alias(out_col),
        )

    h = sup.select(F.col("s_suppkey").alias("s"),
                   F.lit(1000000).cast("bigint").alias("h"))
    for _ in range(3):
        # checkpoint each half-round's aggregate (node-sized, tiny):
        # the normalization reads it TWICE (total + scale), and without
        # materialization Catalyst re-evaluates the whole join+agg
        # subtree per read — 2x edge passes per half-round for nothing
        araw = (
            e.join(h, "s").groupBy("p").agg(F.sum("h").alias("raw"))
            .localCheckpoint()
        )
        a = _scale(araw, "p", "a")
        hraw = (
            e.join(a, "p").groupBy("s").agg(F.sum("a").alias("raw"))
            .localCheckpoint()
        )
        h = _scale(hraw, "s", "h")
    # rename the lineage-shared key on each result frame: h and deg
    # both descend from e, and expression joins on the raw column
    # would be ambiguous self-joins
    hq = h.select(F.col("s").alias("h_s"), "h")
    deg = e.groupBy("s").agg(F.count("*").alias("n_parts")).select(
        F.col("s").alias("deg_s"), "n_parts"
    )
    return (
        sup.select("s_suppkey")
        .join(hq, sup.s_suppkey == hq.h_s, "left")
        .join(deg, sup.s_suppkey == deg.deg_s, "left")
        .select(
            "s_suppkey",
            F.coalesce("h", F.lit(0)).cast("bigint").alias("hub_micro"),
            F.coalesce("n_parts", F.lit(0)).cast("bigint")
            .alias("n_parts"),
        )
        .orderBy("s_suppkey")
    )
