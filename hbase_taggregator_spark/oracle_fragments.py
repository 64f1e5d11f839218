"""Shared DuckDB oracle SQL fragments.

Leaf module — imports nothing from the package, so any query module
(queries / queries_ext / queries_r3 / queries_r4 / ...) can import these
fragments at module top level without creating a circular-import chain.
This exists because the query modules form an intentional import ring
(queries → queries_ext → queries_r3/r4 → queries) for registration, and
a `from queries_rN import <name>` inside that ring sees a partially
initialized module when the user starts the import anywhere but the top
(the r4 regression: `import hbase_taggregator_spark.queries_r3` died on
`_SQL_SHINGLES5`).

Fragments mirror the Spark-side tokenization/shingling/hashing algebra
(operators/text.py, operators/dedup.py) restated in DuckDB SQL.
"""

from __future__ import annotations

# whitespace tokenization of lower-cased trimmed text (documents.text)
_SQL_TOKENS = r"string_split_regex(trim(lower(text)), '\s+')"

# distinct 3-gram word shingles over a `toks` list column
_SQL_SHINGLES3 = (
    r"list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),"
    r" i -> array_to_string(toks[i:i+2], ' ')))"
)

# distinct 5-gram word shingles over a `toks` list column
_SQL_SHINGLES5 = (
    r"list_distinct(list_transform(generate_series(1, greatest(len(toks) - 4,"
    r" 0)), i -> array_to_string(toks[i:i+4], ' ')))"
)

# embeddings unnested to (vec_id, i, v) plus per-vector L2 norms; exact
# decimal partial sums so Spark/DuckDB float reduction order can't diverge
_SQL_E = """
    e AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
          FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)),
    norms AS (SELECT vec_id, sqrt(CAST(SUM(CAST(v * v AS DECIMAL(18,12))) AS DOUBLE)) AS nrm
              FROM e GROUP BY vec_id)
"""


def _simhash_sql() -> str:
    """SimHash restated relationally: unnest shingles × bit positions,
    ±1 votes, sign per bit, weighted bit sum."""
    shingles2 = (
        r"list_distinct(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),"
        r" i -> array_to_string(toks[i:i+1], ' ')))"
    )
    return f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({shingles2}) AS s FROM t),
    h AS (SELECT doc_id,
                 CAST(concat('0x', substr(md5(concat('sh#', s)), 1, 8)) AS BIGINT) AS h0,
                 CAST(concat('0x', substr(md5(concat('sh#', s)), 9, 8)) AS BIGINT) AS h1
          FROM sh),
    votes AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (h0 >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v0,
             SUM(CASE WHEN (h1 >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v1
      FROM h, (SELECT unnest(generate_series(0, 31)) AS bit) b
      GROUP BY 1, 2),
    bits AS (
      -- outer CAST: DuckDB widens integer SUM to HUGEINT (int128), which the
      -- driver's type-tagged hasher serializes differently from int64
      SELECT doc_id,
             CAST(SUM(CASE WHEN v0 > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) +
                  SUM(CASE WHEN v1 > 0 AND bit < 31 THEN CAST(1 AS BIGINT) << (32 + bit) ELSE 0 END)
               AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id)
    SELECT doc_id, simhash,
           (simhash >> 0) & 65535 AS chunk0,
           (simhash >> 16) & 65535 AS chunk1,
           (simhash >> 32) & 65535 AS chunk2,
           (simhash >> 48) & 65535 AS chunk3
    FROM bits
    """


def _minhash_band_ctes(k: int = 16, bands: int = 4) -> str:
    """The shared MinHash CTE chain (t → sh → sig → bands) every LSH
    oracle builds on: Kirsch-Mitzenmacher double hashing, k min-hashes,
    comma-joined band keys — the algebra of
    operators/dedup.py::minhash_signatures + _band_rows."""
    rows = k // bands
    lo = "CAST(concat('0x', substr(md5(concat('mh#', s)), 1, 15)) AS BIGINT)"
    hi = "CAST(concat('0x', substr(md5(concat('mh#', s)), 16, 15)) AS BIGINT) // 4"
    mins = ", ".join(
        f"list_min(list_transform(shingles, s -> ({lo} + {i} * ({hi})) % {1 << 60}))"
        f" AS m{i}"
        for i in range(k)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, concat_ws(',', "
        + ", ".join(f"CAST(m{b * rows + r} AS VARCHAR)" for r in range(rows))
        + ") AS band_key FROM sig"
        for b in range(bands)
    )
    return f"""
    t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    sh AS (SELECT doc_id, {_SQL_SHINGLES3} AS shingles FROM t),
    sig AS (SELECT doc_id, {mins} FROM sh WHERE len(shingles) > 0),
    bands AS ({band_rows})"""


def _semdedup_sql(nlist_sql: str, threshold: float = 0.42) -> str:
    """SemDeDup restated relationally, parameterized by the centroid
    SIZING expression only (`nlist_sql` — a scalar SELECT body over the
    embeddings table): decimal-exact centroid cosines, deterministic
    (ccos DESC, cent_id) assignment, in-cell pairwise cosines, drop-the-
    larger-id rule. Both sizing gates (`semdedup_survivors` isqrt(N),
    `semdedup_survivors_cellcap` N//cap) share this one copy so the drop
    algebra can never diverge between them."""
    return f"""
    WITH {_SQL_E},
    nl AS (SELECT {nlist_sql} AS nlist FROM embeddings),
    cd AS (
      SELECT v.vec_id, c.vec_id AS cent_id,
             CAST(SUM(CAST(v.v * c.v AS DECIMAL(18,12))) AS DOUBLE) AS cdot
      FROM e v JOIN e c ON v.i = c.i AND c.vec_id < (SELECT nlist FROM nl)
      GROUP BY 1, 2),
    cscore AS (
      SELECT cd.vec_id, cent_id, cdot / (nv.nrm * nc.nrm) AS ccos
      FROM cd JOIN norms nv ON nv.vec_id = cd.vec_id
              JOIN norms nc ON nc.vec_id = cent_id),
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, cent_id) AS rk
        FROM cscore) WHERE rk = 1),
    pd AS (
      SELECT aa.vec_id AS id_a, bb.vec_id AS id_b,
             CAST(SUM(CAST(va.v * vb.v AS DECIMAL(18,12))) AS DOUBLE) AS pdot
      FROM assign aa JOIN assign bb
        ON aa.cent_id = bb.cent_id AND aa.vec_id < bb.vec_id
      JOIN e va ON va.vec_id = aa.vec_id
      JOIN e vb ON vb.vec_id = bb.vec_id AND va.i = vb.i
      GROUP BY 1, 2),
    dups AS (
      SELECT DISTINCT id_b FROM pd
      JOIN norms na ON na.vec_id = id_a
      JOIN norms nb ON nb.vec_id = id_b
      WHERE pdot / (na.nrm * nb.nrm) >= {threshold})
    SELECT a.vec_id, a.cent_id FROM assign a
    WHERE a.vec_id NOT IN (SELECT id_b FROM dups)
    ORDER BY a.vec_id
    """

def binary_bits_ctes(src: str = "embeddings", mean_src: str | None = None) -> str:
    """The shared filtered-unnest + per-dimension-mean + bit-packing CTE
    chain the binary-quantization gates build on — the EXACT algebra of
    ``operators/similarity.py::dimension_means`` + ``binary_quantize``
    (mean thresholds): symmetric NULL/length filter, DECIMAL(28,12)
    mean, ``v > m`` comparisons of raw float32-widened doubles against
    the identically-computed mean, two 32-bit words as BIGINTs (the
    SimHash oracle's split-word discipline — no sign bit, no overflow).

    ``src`` is the corpus relation — a table name or a parenthesized
    subquery (the r11 duplicate-union gate binarizes ``embeddings UNION
    ALL`` a shifted copy, whose means equal the original's exactly:
    doubling every decimal partial sum and the count scales both by a
    power of two, so the IEEE division result is bit-identical). Lives
    here (leaf module) because queries_r10 AND queries_r11 both need it
    at module top and the query modules form an import ring.

    ``mean_src`` (default: ``src``) is the relation the THRESHOLD MEANS
    are computed over, when it differs from the relation being
    binarized — the r12 incremental-admission gate quantizes the whole
    table against the STANDING corpus's stored thresholds (batch rows
    must use the build-time codebook, exactly
    ``write_binary_band_index``'s sidecar contract)."""
    mean_rel = mean_src if mean_src is not None else src
    return f"""
    eb AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
           FROM {src} AS __bsrc, (SELECT unnest(generate_series(1, 64)) AS i)
           WHERE len(embedding) = 64
             AND len(list_filter(embedding, x -> x IS NULL)) = 0),
    ebm AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
            FROM {mean_rel} AS __msrc, (SELECT unnest(generate_series(1, 64)) AS i)
            WHERE len(embedding) = 64
              AND len(list_filter(embedding, x -> x IS NULL)) = 0),
    means AS (SELECT i, CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
                        / COUNT(*) AS m
              FROM ebm GROUP BY i),
    bits AS (SELECT vec_id,
                    CAST(SUM(CASE WHEN v > m AND eb.i <= 32
                             THEN CAST(1 AS BIGINT) << (eb.i - 1)
                             ELSE 0 END) AS BIGINT) AS w0,
                    CAST(SUM(CASE WHEN v > m AND eb.i > 32
                             THEN CAST(1 AS BIGINT) << (eb.i - 33)
                             ELSE 0 END) AS BIGINT) AS w1
             FROM eb JOIN means ON means.i = eb.i GROUP BY vec_id)
"""


#: fixture-scale two-level IVF sizing: nlist=64 first-vector centroids,
#: sliced into 8 super-cells, vectors probe their 4 nearest supers.
#: At production the same code runs with nlist ∝ N (millions),
#: n_super ≈ √nlist, and the probe count tuned for recall. Lives here
#: (not in queries_r8) because queries_r9 also needs it at module top
#: and the query modules form an import ring — see the module docstring.
TWOLEVEL_NLIST = 64
TWOLEVEL_NSUPER = 8
TWOLEVEL_NPROBE = 4

#: the full two-level assignment CTE chain (block slicing → decimal
#: super-centroid means → both nearest-super argmins → super-cell
#: candidate join → exact candidate cosines), shared by the r8
#: assignment gate and the r9 top-k / Lloyd-refine gates. Composes as
#: `WITH {_SQL_E},\n{TWOLEVEL_SQL_CTES}\nSELECT ...`; ends at ``cdot``:
#: (vec_id, cid, d) — the exact decimal dot of every candidate pair.
#: Products involving the COMPUTED means m route through VARCHAR before
#: the decimal cast (r8 ADVICE): m is a full-precision division result,
#: so DuckDB's raw double→DECIMAL cast (rounds the exact binary
#: expansion) can straddle a scale-12 midpoint against Spark's
#: shortest-repr HALF_UP BigDecimal.valueOf path and flip a near-tied
#: argmin.
TWOLEVEL_SQL_CTES = f"""
    cpos AS (SELECT vec_id AS cid,
                    ROW_NUMBER() OVER (ORDER BY vec_id) AS pos
             FROM embeddings WHERE vec_id < {TWOLEVEL_NLIST}),
    blk AS (SELECT cid, ((pos - 1) * {TWOLEVEL_NSUPER}) // {TWOLEVEL_NLIST}
                        AS blk
            FROM cpos),
    sup AS (SELECT b.blk, e.i,
                   CAST(SUM(CAST(e.v AS DECIMAL(28,12))) AS DOUBLE)
                     / COUNT(*) AS m
            FROM blk b JOIN e ON e.vec_id = b.cid GROUP BY 1, 2),
    sn AS (SELECT blk,
                  sqrt(CAST(SUM(CAST(CAST(m * m AS VARCHAR)
                                     AS DECIMAL(18,12))) AS DOUBLE))
                    AS snrm
           FROM sup GROUP BY 1),
    csd AS (SELECT b.cid, s.blk,
                   CAST(SUM(CAST(CAST(e.v * s.m AS VARCHAR)
                                 AS DECIMAL(18,12))) AS DOUBLE) AS d
            FROM blk b JOIN e ON e.vec_id = b.cid JOIN sup s ON s.i = e.i
            GROUP BY 1, 2),
    member AS (SELECT cid, blk FROM (
        SELECT csd.cid, csd.blk,
               ROW_NUMBER() OVER (PARTITION BY csd.cid
                                  ORDER BY d / (nc.nrm * sn.snrm) DESC,
                                           csd.blk) AS rk
        FROM csd JOIN norms nc ON nc.vec_id = csd.cid
                 JOIN sn ON sn.blk = csd.blk) WHERE rk = 1),
    vsd AS (SELECT e.vec_id, s.blk,
                   CAST(SUM(CAST(CAST(e.v * s.m AS VARCHAR)
                                 AS DECIMAL(18,12))) AS DOUBLE) AS d
            FROM e JOIN sup s ON s.i = e.i GROUP BY 1, 2),
    probe AS (SELECT vec_id, blk FROM (
        SELECT vsd.vec_id, vsd.blk,
               ROW_NUMBER() OVER (PARTITION BY vsd.vec_id
                                  ORDER BY d / (nv.nrm * sn.snrm) DESC,
                                           vsd.blk) AS rk
        FROM vsd JOIN norms nv ON nv.vec_id = vsd.vec_id
                 JOIN sn ON sn.blk = vsd.blk)
        WHERE rk <= {TWOLEVEL_NPROBE}),
    cand AS (SELECT p.vec_id, m.cid
             FROM probe p JOIN member m ON m.blk = p.blk),
    cdot AS (SELECT c.vec_id, c.cid,
                    CAST(SUM(CAST(v.v * w.v AS DECIMAL(18,12))) AS DOUBLE)
                      AS d
             FROM cand c JOIN e v ON v.vec_id = c.vec_id
                         JOIN e w ON w.vec_id = c.cid AND w.i = v.i
             GROUP BY 1, 2)
"""


def _ivf_recall_sql(n_centroids: int = 16, n_probe: int = 4, k: int = 5) -> str:
    """The flat-IVF recall@k oracle (assignment argmax at rk=1, query
    probes at rk<=n_probe, inverted-list retrieval, recall vs brute
    force) — shared by ``similarity_ivf_recall_at_5`` (queries_ext) and
    the r11 persisted-index gate ``similarity_ivf_indexed_recall_at_5``
    (queries_r11): the index write/read round-trip is exact, so both
    gates hash against the SAME algebra. Lives here (leaf module)
    because the query modules form an import ring."""
    return f"""
    WITH {_SQL_E},
    cd AS (
      SELECT v.vec_id, c.vec_id AS cent_id,
             CAST(SUM(CAST(v.v * c.v AS DECIMAL(18,12))) AS DOUBLE) AS cdot
      FROM e v JOIN e c ON v.i = c.i AND c.vec_id < {n_centroids}
      GROUP BY 1, 2),
    cscore AS (
      SELECT vd.vec_id, cent_id, cdot / (nv.nrm * nc.nrm) AS ccos
      FROM cd vd JOIN norms nv ON nv.vec_id = vd.vec_id
                 JOIN norms nc ON nc.vec_id = cent_id),
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, cent_id) AS rk
        FROM cscore) WHERE rk = 1),
    probes AS (
      SELECT vec_id AS query_id, cent_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, cent_id) AS rk
        FROM cscore WHERE vec_id < 10) p WHERE rk <= {n_probe}),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             CAST(SUM(CAST(q.v * c.v AS DECIMAL(18,12))) AS DOUBLE) AS dot
      FROM e q JOIN e c ON q.i = c.i AND q.vec_id < 10 AND q.vec_id != c.vec_id
      GROUP BY 1, 2),
    scored AS (
      SELECT query_id, d.vec_id, dot / (nq.nrm * nc.nrm) AS cosine
      FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
                  JOIN norms nc ON nc.vec_id = d.vec_id),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM scored) WHERE rk <= {k}),
    ivfs AS (
      SELECT s.query_id, s.vec_id, s.cosine
      FROM scored s JOIN assign a ON a.vec_id = s.vec_id
                    JOIN probes p ON p.query_id = s.query_id
                                 AND p.cent_id = a.cent_id),
    ivf AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM ivfs) WHERE rk <= {k}),
    hits AS (
      SELECT x.query_id, COUNT(*) AS n_hits
      FROM exact x JOIN ivf USING (query_id, vec_id) GROUP BY 1)
    SELECT q.query_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(n_hits, 0) / {float(k)} AS recall_at_5
    FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
    LEFT JOIN hits ON hits.query_id = q.query_id
    """


def _ivf_binary_recall_sql(
    n_centroids: int = 16,
    n_probe: int = 4,
    rerank_k: int = 20,
    k: int = 5,
) -> str:
    """The FLAT-IVF composed-stack recall@k oracle: first-vector
    centroids, assignment argmax at rk=1, query probes at rk<=n_probe,
    in-cell Hamming shortlist of ``rerank_k`` over the mean-threshold
    binary bits, exact-cosine re-rank to ``k``, recall vs brute force —
    every stage of the binary-codec ``ivf_search`` over a flat
    quantizer restated.
    Shared by the r12 persisted-index gate
    (``similarity_ivf_binary_indexed_recall_at_5``): the index
    write/read round-trip is exact and the indexed plan is row-pinned
    to the in-memory one, so both paths hash against this one algebra
    (the same sharing discipline as ``_ivf_recall_sql``). Lives here
    (leaf module) because the query modules form an import ring."""
    return f"""
    WITH {_SQL_E},
    {binary_bits_ctes()},
    cd AS (
      SELECT v.vec_id, c.vec_id AS cent_id,
             CAST(SUM(CAST(v.v * c.v AS DECIMAL(18,12))) AS DOUBLE) AS cdot
      FROM e v JOIN e c ON v.i = c.i AND c.vec_id < {n_centroids}
      GROUP BY 1, 2),
    cscore AS (
      SELECT vd.vec_id, cent_id, cdot / (nv.nrm * nc.nrm) AS ccos
      FROM cd vd JOIN norms nv ON nv.vec_id = vd.vec_id
                 JOIN norms nc ON nc.vec_id = cent_id),
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, cent_id) AS rk
        FROM cscore) WHERE rk = 1),
    probes AS (
      SELECT vec_id AS query_id, cent_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY ccos DESC, cent_id) AS rk
        FROM cscore WHERE vec_id < 10) p WHERE rk <= {n_probe}),
    hb AS (
      SELECT p.query_id, a.vec_id,
             bit_count(xor(qb.w0, cb.w0)) + bit_count(xor(qb.w1, cb.w1))
               AS hamming
      FROM probes p JOIN assign a ON a.cent_id = p.cent_id
      JOIN bits qb ON qb.vec_id = p.query_id
      JOIN bits cb ON cb.vec_id = a.vec_id
      WHERE p.query_id != a.vec_id),
    shortlist AS (SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY hamming, vec_id) AS rk
        FROM hb) WHERE rk <= {rerank_k}),
    dots AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             CAST(SUM(CAST(q.v * c.v AS DECIMAL(18,12))) AS DOUBLE) AS dot
      FROM e q JOIN e c ON q.i = c.i AND q.vec_id < 10 AND q.vec_id != c.vec_id
      GROUP BY 1, 2),
    scored AS (
      SELECT query_id, d.vec_id, dot / (nq.nrm * nc.nrm) AS cosine
      FROM dots d JOIN norms nq ON nq.vec_id = d.query_id
                  JOIN norms nc ON nc.vec_id = d.vec_id),
    exact AS (SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM scored) WHERE rk <= {k}),
    rr AS (
      SELECT s.query_id, s.vec_id, s.cosine
      FROM scored s JOIN shortlist f USING (query_id, vec_id)),
    ivb AS (SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id) AS rk
        FROM rr) WHERE rk <= {k}),
    hits AS (
      SELECT x.query_id, COUNT(*) AS n_hits
      FROM exact x JOIN ivb USING (query_id, vec_id) GROUP BY 1)
    SELECT q.query_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(n_hits, 0) / {float(k)} AS recall_at_5
    FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 10) q
    LEFT JOIN hits ON hits.query_id = q.query_id
    """


def pq_refined_ctes(
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    src: str = "e",
    full_precision_src: bool = False,
) -> str:
    """The shared PQ CTE chain with ONE Lloyd refinement: subspace
    slicing (``sube``), sampling-init books (``cb`` — first n_codes
    vectors by id, code id = vec_id), init assignment (``encd0`` →
    ``enc0``), per-(subspace, codeword, component) DECIMAL(28,12) means
    (``rm`` — the engine-portable mean contract), empty codewords
    carried from the init books (``cb1``), and the REFINED all-pairs
    subspace distances + assignment (``encd`` → ``enc``). Products
    involving the computed means route through VARCHAR before the
    decimal cast (the r8 ADVICE discipline, see TWOLEVEL_SQL_CTES): a
    mean is a full-precision division result, where the init codewords
    were float32-widened exact doubles whose products never straddle a
    scale-12 midpoint. Ends with ``enc`` (vec_id, s, code) and ``encd``
    (vec_id, s, code, d) — per-query LUTs slice ``encd``. Shared by
    ``similarity_pq_recall_at_5`` (queries_ext) and the r12 composed
    IVFADC gate ``similarity_ivf_pq_recall_at_5`` (queries_r12); lives
    here (leaf module) because the query modules form an import ring.

    ``src`` points the chain at a different exploded-vector CTE (the
    r14 residual gate feeds ``er`` — residual components); with
    ``full_precision_src=True`` the INIT products and the refined-mean
    sums ALSO route through VARCHAR — a residual component is itself a
    computed full-precision double (raw − mean), so the
    raw-values-cast-directly shortcut the default chain takes on
    ``encd0``/``rm`` no longer applies. Defaults generate byte-
    identical text to the pre-r14 fragment (standing oracle texts
    unchanged)."""
    sub = dim // m
    d0 = (
        "CAST(CAST((x.v - c.v) * (x.v - c.v) AS VARCHAR) AS DECIMAL(18,12))"
        if full_precision_src
        else "CAST((x.v - c.v) * (x.v - c.v) AS DECIMAL(18,12))"
    )
    mv = (
        "CAST(CAST(x.v AS VARCHAR) AS DECIMAL(28,12))"
        if full_precision_src
        else "CAST(x.v AS DECIMAL(28,12))"
    )
    return f"""
    sube AS (SELECT vec_id, (i - 1) // {sub} AS s, i, v FROM {src}),
    cb AS (SELECT vec_id AS code, s, i, v FROM sube WHERE vec_id < {n_codes}),
    encd0 AS (
      SELECT x.vec_id, c.s, c.code,
             CAST(SUM({d0})
               AS DOUBLE) AS d
      FROM sube x JOIN cb c ON c.s = x.s AND c.i = x.i
      GROUP BY 1, 2, 3),
    enc0 AS (
      SELECT vec_id, s, code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                     ORDER BY d, code) AS rk
        FROM encd0) WHERE rk = 1),
    rm AS (
      SELECT e0.s, e0.code, x.i,
             CAST(SUM({mv}) AS DOUBLE)
               / COUNT(*) AS v
      FROM enc0 e0 JOIN sube x ON x.vec_id = e0.vec_id AND x.s = e0.s
      GROUP BY 1, 2, 3),
    cb1 AS (
      SELECT code, s, i, v FROM rm
      UNION ALL
      SELECT cb.code, cb.s, cb.i, cb.v FROM cb
      WHERE NOT EXISTS (SELECT 1 FROM rm
                        WHERE rm.s = cb.s AND rm.code = cb.code)),
    encd AS (
      SELECT x.vec_id, c.s, c.code,
             CAST(SUM(CAST(CAST((x.v - c.v) * (x.v - c.v) AS VARCHAR)
                           AS DECIMAL(18,12))) AS DOUBLE) AS d
      FROM sube x JOIN cb1 c ON c.s = x.s AND c.i = x.i
      GROUP BY 1, 2, 3),
    enc AS (
      SELECT vec_id, s, code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                     ORDER BY d, code) AS rk
        FROM encd) WHERE rk = 1)
"""
