#!/usr/bin/env python3
"""Build the 100x scale-rehearsal dataset (SCALE.md "Measured at sf10").

Same key-shift pattern as make_sf1.py but 100 replicas of sf0.1 into
target/sf10 (~1.4 GB). Round-14 rebuild (round-13 verdict item 1): the
documents table now PRESERVES the planted-fixture invariants at 100
replicas, so the dedup/LSH/fingerprint certificate families run at sf10:

  - doc_id += r * 1e7 (round 13 used r * 1e5, which reached 9.95e6 and
    collided mod 1e6 across replicas r, r+10). With 1e7 blocks every
    planted offset the fixtures use (+5e5 truncated copy, +6e5 identical
    copy, +1e6 twin) stays strictly inside its replica's block — no
    cross-replica id collisions, and `doc_id % 1e6` still lands planted
    ids on a real base doc (x < 5e3) for the metadata joins.
  - text is REWRITTEN per replica by a bijective affine cipher on
    'a'..'z' (replica 0 verbatim; replica r>0 maps letter i -> a*i+b mod
    26 with distinct non-identity (a, b)). This is the documents analog
    of the customer c_name rewrite below and the embeddings rotation:
    100 replicas of IDENTICAL text would put ~100 docs in every minhash/
    simhash band bucket and grow the candidate-pair work 100x per 10x
    data — the all-duplicates SKEW regime, a different experiment
    (make_sf1 deliberately keeps that regime at 10 copies as the
    adversarial sf1 arm; the skew rehearsals own the extreme). The cipher
    preserves length (n_chars stays exact), the space structure (tokens
    per doc, token lengths), and the within-replica duplicate structure
    (the base corpus's 8 exact-dup pairs stay dups inside every
    replica), while replicas become textually distinct — vocabulary and
    shingle space grow ~100x, the genuinely-bigger-corpus direction.

  - embeddings: vec_id += r*1e7 (round 17 — was r*1e4) and the vector
    is ROTATED by r%64 dimensions — norms and within-replica geometry
    are preserved exactly while replicas point in different directions,
    so the IVF/kNN builds see a genuinely 100x corpus. The 1e7 block
    matches the documents/customer shift, so replica embeddings JOIN
    their replica's documents on doc_id = vec_id — the lang-label join
    q300's bitext mining population rides now grows 100x (the r16
    verdict caveat; under r*1e4 only replica 0 carried labels). It also
    fixes two id-space defects of the r*1e4 scheme: replica reals
    900000-991999 (replicas 90-99) read as planted-twin sentinels to
    the `vec_id % 1e7 < 9e5` real-corpus filter, and replica 90's
    vector 0 COLLIDED with the rank-1 twin id 9e5 exactly. Fixture
    plants (twins at +1e6, the 9e5 sentinel, batch ids at +9e6) derive
    from base ids < 2e3, so they stay inside replica 0's block and
    clear of every replica block.
  - customer: custkey += r*1e7 (NOT make_sf1's 1e8: at 100 replicas a
    1e8 shift makes 10-digit keys, and lpad(...,9) TRUNCATES them —
    colliding names grow q98/q194's prefix-16 blocks 10x and square the
    fuzzy-join work). 1e7 keeps every key 9-digit, names unique, and the
    block-size law identical to sf0.1/sf1.

Usage: python3 tools/make_sf10.py   (driver-side tooling; duckdb required)
"""
import duckdb, shutil, os

SRC = "/root/testdata/sf0.1"
DST = "target/sf10"
R = 100

ALPHA = "abcdefghijklmnopqrstuvwxyz"
# distinct non-identity affine maps i -> a*i + b (mod 26), a coprime to 26
AFFINE = [(a, b) for a in (3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
          for b in range(26)]

def doc_select(r: int) -> str:
    shift = r * 10_000_000
    if r == 0:
        return f"SELECT doc_id, text, lang, source, n_chars FROM '{SRC}/documents.parquet'"
    a, b = AFFINE[r - 1]
    tgt = "".join(ALPHA[(a * i + b) % 26] for i in range(26))
    return (f"SELECT doc_id + {shift} AS doc_id, "
            f"translate(text, '{ALPHA}', '{tgt}') AS text, "
            f"lang, source, n_chars FROM '{SRC}/documents.parquet'")

os.makedirs(DST, exist_ok=True)
con = duckdb.connect()
specs = {
    "lineitem": f"""SELECT l_orderkey + r.i * 1000000000 AS l_orderkey,
        l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM '{SRC}/lineitem.parquet', range({R}) r(i)""",
    "orders": f"""SELECT o_orderkey + r.i * 1000000000 AS o_orderkey, o_custkey,
        o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM '{SRC}/orders.parquet', range({R}) r(i)""",
    "customer": f"""SELECT c_custkey + r.i * 10000000 AS c_custkey,
        'Customer#' || lpad(CAST(c_custkey + r.i * 10000000 AS VARCHAR), 9, '0') AS c_name,
        c_nationkey, c_acctbal, c_mktsegment
        FROM '{SRC}/customer.parquet', range({R}) r(i)""",
    "documents": "\nUNION ALL\n".join(doc_select(r) for r in range(R)),
    "events": f"""SELECT event_id + r.i * 1000000000000 AS event_id, ts,
        user_id + r.i * 10000000 AS user_id, event_type, value, props
        FROM '{SRC}/events.parquet', range({R}) r(i)""",
    # rotation + per-replica SIGN FLIPS (round 14): rotation alone produced
    # 72k cross-replica EXACT-duplicate pairs at 100 replicas — the base
    # vectors contain rotational partners (rot_k(u) = v), so replicas i, j
    # with i - j aligned to k coincided. Flipping a replica-keyed LCG-bit
    # sign per dimension is still ORTHOGONAL (norms and within-replica
    # geometry exact) but de-correlates replicas: the sf10 corpus is 200k
    # DISTINCT vectors (asserted below). Replica 0 stays verbatim.
    "embeddings": f"""SELECT vec_id + r.i * 10000000 AS vec_id,
        CAST(list_transform(
          list_concat(embedding[(r.i % 64) + 1:],
            CASE WHEN r.i % 64 = 0 THEN []::FLOAT[]
                 ELSE embedding[1:(r.i % 64)] END),
          (x, j) -> CASE WHEN r.i = 0 THEN x
                         WHEN ((r.i * 64 + j) * 1103515245 + 12345) // 65536 % 2 = 0
                           THEN x ELSE -x END) AS FLOAT[]) AS embedding,
        label
        FROM '{SRC}/embeddings.parquet', range({R}) r(i)""",
}
for t, q in specs.items():
    con.sql(f"COPY ({q}) TO '{DST}/{t}.parquet' (FORMAT PARQUET)")
    print(t, con.sql(f"SELECT count(*) FROM '{DST}/{t}.parquet'").fetchone()[0])

# invariant self-checks: distinct ids, planted offsets clear of every base
# block, per-replica text distinctness (cipher non-identity), n_chars exact
DOCS = f"'{DST}/documents.parquet'"
checks = {
    "doc ids distinct": f"SELECT count(*) = count(DISTINCT doc_id) FROM {DOCS}",
    "planted offsets stay in-block":
        f"SELECT max(doc_id % 10000000) + 1000000 < 10000000 FROM {DOCS}",
    "n_chars still exact": f"SELECT bool_and(n_chars = len(text)) FROM {DOCS}",
    "replicas textually distinct":
        f"""SELECT count(DISTINCT text) > 99 * (SELECT count(DISTINCT text)
           FROM '{SRC}/documents.parquet') FROM {DOCS}""",
    "within-replica dup pairs preserved":
        f"""SELECT count(*) = 100 * (SELECT count(*) FROM (
             SELECT text FROM '{SRC}/documents.parquet'
             GROUP BY text HAVING count(*) > 1))
           FROM (SELECT text FROM {DOCS} GROUP BY text HAVING count(*) > 1)""",
}
checks["replica vectors all distinct"] = (
    f"""SELECT count(DISTINCT CAST(embedding AS VARCHAR)) = count(*)
        FROM '{DST}/embeddings.parquet'""")
checks["replica embeddings carry lang labels (q300 population x100)"] = (
    f"""SELECT count(*) = {R} * (SELECT count(*) FROM '{SRC}/embeddings.parquet' e
          JOIN '{SRC}/documents.parquet' d ON d.doc_id = e.vec_id
          WHERE d.lang IN ('en', 'de'))
        FROM '{DST}/embeddings.parquet' e JOIN {DOCS} d ON d.doc_id = e.vec_id
        WHERE d.lang IN ('en', 'de')""")
checks["replica vector norms exact"] = (
    f"""SELECT bool_and(abs(
          list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * x)) -
          list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * x))) < 1e-9)
        FROM '{DST}/embeddings.parquet' a
        JOIN '{SRC}/embeddings.parquet' b ON a.vec_id % 10000000 = b.vec_id""")
for name, sql in checks.items():
    ok = con.sql(sql).fetchone()[0]
    print(("OK  " if ok else "FAIL"), name)
    assert ok, name

for t in ["nation", "region", "part", "supplier"]:
    shutil.copy(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")
print("done ->", DST)
