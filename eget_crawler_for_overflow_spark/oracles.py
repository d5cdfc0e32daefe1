"""DuckDB oracle SQL for every oracle-checkable query in queries.py.

The oracles are *independent* implementations: closed-form pagemodel
formulas (never the engine's HTML parsing) for the crawl slice, and
mirrored-but-handwritten SQL for the relational/dedup operators. md5 is
the cross-engine hash. Types are cast to match Spark's output types.

Generated at import time for the driver's correctness tier (sf0.01:
n_pages=5000, n_hosts=64, n_docs=500).
"""

from __future__ import annotations

from . import pagemodel as pm

SF = "/root/testdata/sf0.01"
N_PAGES, N_HOSTS = pm.sizing(SF)

PAGES = pm.duckdb_pages_cte(SF)
LINKS = pm.duckdb_links_cte(SF)

EXCLUDE_PAT = r"/p/\d*[13579]$"
INCLUDE_PAT = r"/p/1\d*$"
SEED_IDS = "(0, 2, 4, 5, 7)"
CRAWL_DEPTH = 5


def _c0(i: str = "i") -> str:
    return pm.ducksql_child(i, "0", N_PAGES)


ORACLES: dict[str, str] = {}

# ---------------------------------------------------------------------------
# extraction slice
# ---------------------------------------------------------------------------

# is_equal (the folded-in former `extract_text_matches` self-audit) is
# TRUE by construction here: the oracle's md IS the expected-markdown
# closed form the engine's pages fixture stores in its text column, so
# the engine side only matches if markdown_udf(html) == text everywhere.
ORACLES["extract_text"] = (
    f"WITH {PAGES} "
    "SELECT url, md AS markdown, TRUE AS is_equal FROM pages_g"
)

ORACLES["title_lang_extract"] = (
    f"WITH {PAGES} SELECT url, title, lang AS language FROM pages_g"
)

ORACLES["structured_og"] = f"""
WITH {PAGES}
SELECT url,
  CASE WHEN i % 3 = 0 THEN 'OG Doc ' || i ELSE '' END AS og_title,
  CASE WHEN i % 5 = 3 THEN lang || '_XX' ELSE '' END AS og_locale,
  CASE WHEN i % 6 = 0
       THEN '{{"@type":"Thing","name":"Doc ' || i || '"}}'
       ELSE '' END AS json_ld0
FROM pages_g
"""

ORACLES["metadata_extract"] = f"""
WITH {PAGES}
SELECT url,
  CASE WHEN i % 7 = 0 THEN 'Author ' || (i % 5) ELSE '' END AS author,
  CASE WHEN i % 7 = 0 THEN 'alpha,beta' ELSE '' END AS keywords,
  CASE WHEN i % 7 = 0 THEN '2025-01-0' || (i % 9 + 1) ELSE '' END AS published_date,
  CASE WHEN i % 7 = 3 THEN 'https://img/' || i || '.png' ELSE '' END AS image,
  CASE WHEN i % 8 = 0 THEN 'summary' ELSE '' END AS tw_card,
  CASE WHEN i % 8 = 0 THEN 'TW Doc ' || i ELSE '' END AS tw_title
FROM pages_g
"""

# scrape-options: closed-form markdown for onlyMainContent=False — the
# whole-soup conversion keeps the <title> text block and the links <div>
# (anchors coalesce into one inline block); nav/footer/script are cleaned
_NN = "chr(10) || chr(10)"
_C0_P = pm.ducksql_child("p.i", "0", N_PAGES)
_C1_P = pm.ducksql_child("p.i", "1", N_PAGES)
_CK_P = pm.ducksql_child("p.i", "g.k", N_PAGES)
_C0URL = pm.ducksql_url(_C0_P, N_HOSTS)

_BBLOCK = f"""
CASE p.i % 4
  WHEN 0 THEN '```python' || chr(10) || 'print(' || p.i || ')' || chr(10) || '```'
  WHEN 1 THEN '- alpha ' || p.i || chr(10) || '- beta'
  WHEN 2 THEN '| k | v |' || chr(10) || '|---|---|' || chr(10) || '| a | ' || (p.i % 10) || ' |'
  ELSE 'Closing note ' || p.i || '.' END
"""

_ANCHORS = f"""
(SELECT string_agg('[c' || g.k || '](' || {pm.ducksql_url(_CK_P, N_HOSTS)} || ')', '' ORDER BY g.k)
 FROM generate_series(0, 3) g(k) WHERE g.k < 2 + p.i % 3)
|| '[top](#top)[mail](mailto:x@example.com)[js](javascript:void(0))'
|| '[off](https://offsite.example.net/x)[dup](' || {_C0URL} || '?utm=1)'
|| '[rel](/p/' || {_C1_P} || ')'
"""

ORACLES["extract_only_main_off"] = f"""
WITH {PAGES}
SELECT p.url,
  'Doc ' || p.i || {_NN} || '# Doc ' || p.i || {_NN} ||
  p.doc_text || ' See [next](' || {_C0URL} || ').' || {_NN} ||
  '## Details' || {_NN} || 'Details for page ' || p.i || '.' || {_NN} ||
  {_BBLOCK} || {_NN} || {_ANCHORS} || chr(10) AS markdown
FROM pages_g p
"""

# batch /scrape with per-row options (absorbs extract_tag_filters, round 6):
# the markdown column CASEs between the four closed forms the option matrix
# selects (includeTags / onlyMainContent=False / excludeTags / default);
# miss rows (one /nav per host) get the reference error envelope.
_MD_INCLUDE = f"'# Doc ' || p.i || {_NN} || '## Details' || chr(10)"
_MD_EXCLUDE = f"""
'# Doc ' || p.i || {_NN} ||
p.doc_text || ' See [next](' || {_C0URL} || ').' || {_NN} ||
'## Details' || {_NN} || 'Details for page ' || p.i || '.' ||
CASE WHEN p.i % 4 = 3 THEN {_NN} || 'Closing note ' || p.i || '.' ELSE '' END
|| chr(10)
"""
_MD_MAIN_OFF = f"""
'Doc ' || p.i || {_NN} || '# Doc ' || p.i || {_NN} ||
p.doc_text || ' See [next](' || {_C0URL} || ').' || {_NN} ||
'## Details' || {_NN} || 'Details for page ' || p.i || '.' || {_NN} ||
{_BBLOCK} || {_NN} || {_ANCHORS} || chr(10)
"""
_NAV_ERR = "'fetch failed: https://host' || h.i || '.example/nav not in pages corpus'"

ORACLES["scrape_requests"] = f"""
WITH {PAGES}
SELECT p.url,
  TRUE AS success,
  CASE WHEN p.i % 7 = 0 THEN {_MD_INCLUDE}
       WHEN p.i % 7 = 1 THEN {_MD_MAIN_OFF}
       WHEN p.i % 7 = 3 THEN {_MD_EXCLUDE}
       ELSE p.md END AS markdown,
  CASE WHEN p.i % 7 = 0
       THEN '<div><h1>Doc ' || p.i || '</h1><h2>Details</h2></div>'
       END AS html_inc,
  (p.i % 3 = 0) AS has_raw,
  FALSE AS has_screenshot,
  CASE WHEN p.i % 5 = 0
       THEN 'screenshot unavailable: batch engine has no live browser'
       END AS warning,
  CAST(200 AS INTEGER) AS status_code,
  CAST(NULL AS VARCHAR) AS error
FROM pages_g p
UNION ALL
SELECT 'https://host' || h.i || '.example/nav', FALSE,
  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), FALSE, FALSE,
  {_NAV_ERR}, CAST(500 AS INTEGER), {_NAV_ERR}
FROM generate_series(0, {N_HOSTS - 1}) h(i)
"""

ORACLES["metadata_envelope"] = (
    f"WITH {PAGES} SELECT url, url AS source_url, '200' AS status_code "
    "FROM pages_g"
)

ORACLES["link_explode"] = (
    f"WITH {PAGES}, {LINKS} SELECT src_url AS url, dst_url AS link FROM links_g"
)

ORACLES["url_normalize"] = f"""
WITH {PAGES}
SELECT url, '/p/' || i AS href, url AS canon FROM pages_g
UNION ALL SELECT url, url || '#sec', url FROM pages_g
UNION ALL SELECT url, url || '?a=1&b=2', url FROM pages_g
UNION ALL SELECT url, 'mailto:x@example.com', 'mailto:x@example.com' FROM pages_g
"""

ORACLES["host_groups"] = f"""
WITH {PAGES}, {LINKS}
SELECT regexp_extract(dst_url, 'https://([^/]+)/', 1) AS host,
       COUNT(*) AS n_links
FROM links_g GROUP BY 1
"""

# F5+F6 merged (round 5): per-url booleans for both gates — the engine's
# pattern UDF keeps a url iff it misses every exclude / hits any include.
ORACLES["pattern_filters"] = (
    f"WITH {PAGES} SELECT url, "
    f"NOT regexp_matches(url, '{EXCLUDE_PAT}') AS keep_excl, "
    f"regexp_matches(url, '{INCLUDE_PAT}') AS keep_incl FROM pages_g"
)

# §2.11 converter round-trip: the Spark side builds real DOCX/XLSX/PDF
# bytes from (doc_id, lang) and decodes them with the from-scratch stdlib
# decoders; the construction is deterministic, so the decoded markdown —
# and the per-file error envelope for the every-31st corrupt payload —
# has this closed form.
ORACLES["convert_files"] = """
SELECT doc_id,
  CASE doc_id % 3 WHEN 0 THEN 'docx' WHEN 1 THEN 'xlsx' ELSE 'pdf' END
    AS file_type,
  CASE WHEN doc_id % 31 = 0 THEN NULL
    WHEN doc_id % 3 = 0 THEN
      '# Doc ' || doc_id || chr(10) || chr(10) ||
      'lang ' || lang || ' n ' || (doc_id * 7 % 100) || chr(10) || chr(10) ||
      '- item ' || (doc_id % 7)
    WHEN doc_id % 3 = 1 THEN
      '## S' || chr(10) || chr(10) ||
      '| k | v |' || chr(10) || '|---|---|' || chr(10) ||
      '| ' || doc_id || ' | ' || (doc_id * 3) || ' |'
    ELSE
      '# Doc ' || doc_id || chr(10) ||
      'body line ' || (doc_id % 5) || chr(10) || 'second line'
  END AS markdown,
  CASE WHEN doc_id % 31 != 0 THEN NULL
    WHEN doc_id % 3 = 2 THEN 'ValueError: not a PDF (missing %PDF header)'
    ELSE 'BadZipFile: File is not a zip file'
  END AS error
FROM documents
"""

ORACLES["host_filter"] = (
    f"WITH {PAGES}, {LINKS} SELECT src_url AS url, dst_url AS link FROM links_g"
)

ORACLES["depth_gate"] = f"""
WITH {PAGES}
SELECT url, CAST((i * 31) % 12 AS INT) AS depth FROM pages_g
WHERE (i * 31) % 12 <= 3
"""

ORACLES["page_budget"] = f"""
WITH {PAGES},
r AS (SELECT url, ROW_NUMBER() OVER (ORDER BY i) AS rn FROM pages_g)
SELECT url, CAST(rn - 1 AS BIGINT) AS enqueue_seq FROM r WHERE rn <= 100
"""

ORACLES["host_budget_topk"] = f"""
WITH {PAGES},
r AS (SELECT 'host' || host || '.example' AS host, url,
             ROW_NUMBER() OVER (PARTITION BY host ORDER BY i) AS rn
      FROM pages_g)
SELECT host, url, CAST(rn AS INT) AS host_rank FROM r WHERE rn <= 3
"""

ORACLES["frontier_dedup"] = f"""
WITH {PAGES}, {LINKS}
SELECT l.dst_url AS link, MIN(p.i) AS first_src
FROM links_g l JOIN pages_g p ON l.src_url = p.url
WHERE p.i % 97 = 0 GROUP BY 1
"""

_BFS_REACH = f"""
WITH RECURSIVE {PAGES}, {LINKS},
reach(url, depth) AS (
  SELECT url, 0 FROM pages_g WHERE i IN {SEED_IDS}
  UNION ALL
  SELECT l.dst_url, r.depth + 1
  FROM reach r JOIN links_g l ON l.src_url = r.url
  WHERE r.depth < {CRAWL_DEPTH}
),
closure AS (SELECT url, MIN(depth) AS depth FROM reach GROUP BY url)
"""

ORACLES["bfs_reach"] = _BFS_REACH + "SELECT url, CAST(depth AS INT) AS depth FROM closure"

# engine crawl under robots: host0 carries 'Disallow: /p/*7$', so edges to
# page-ids ending in 7 are pruned (seeds bypass robots — seed /p/7 stays)
ORACLES["bfs_reach_robots"] = f"""
WITH RECURSIVE {PAGES}, {LINKS},
reach_r(url, depth) AS (
  SELECT url, 0 FROM pages_g WHERE i IN {SEED_IDS}
  UNION ALL
  SELECT l.dst_url, r.depth + 1
  FROM reach_r r JOIN links_g l ON l.src_url = r.url
  WHERE r.depth < {CRAWL_DEPTH}
    AND NOT (l.dst_url LIKE '%/p/%' AND l.dst_url LIKE '%7')
),
closure_r AS (SELECT url, MIN(depth) AS depth FROM reach_r GROUP BY url)
SELECT url, CAST(depth AS INT) AS depth FROM closure_r
"""

# ---------------------------------------------------------------------------
# bfs_order: the reference's FIFO admission order, closed form. Key insight:
# enqueue order == lexicographic order of (depth, path), where a url's path
# is the link-position trail through its first-wins parent chain (seeds:
# [seed_idx]; child: parent_path ++ [link_pos]). The minimal path at the
# minimal depth IS the admission identity — the all-paths closure + MIN()
# reproduces the simulator's order exactly (validated row-for-row vs
# tests/reference_sim.py). link positions mirror expected_links()'s
# first-occurrence order (pagemodel.py:139-164).
# ---------------------------------------------------------------------------

_LP_C = pm.ducksql_child("p.i", "g.k", N_PAGES)
_LP_C0 = pm.ducksql_child("p.i", "0", N_PAGES)
_LP_C1 = pm.ducksql_child("p.i", "1", N_PAGES)
_SEED_VALUES = "(VALUES (0, 0), (2, 1), (4, 2), (5, 3), (7, 4))"

_BFS_ORDER_CTES = f"""
WITH RECURSIVE {PAGES},
cand_links AS (
  SELECT p.url AS src_url, 0 AS ord,
         'https://host' || p.host || '.example/nav' AS dst FROM pages_g p
  UNION ALL
  SELECT p.url, 1 + g.k, {pm.ducksql_url(_LP_C, N_HOSTS)}
  FROM pages_g p, generate_series(0, 3) g(k)
  WHERE g.k < 2 + p.i % 3 AND {pm.ducksql_host(_LP_C, N_HOSTS)} = p.host
  UNION ALL SELECT url, 10, url FROM pages_g
  UNION ALL SELECT p.url, 11, {pm.ducksql_url(_LP_C0, N_HOSTS)}
  FROM pages_g p WHERE {pm.ducksql_host(_LP_C0, N_HOSTS)} = p.host
  UNION ALL SELECT p.url, 12,
         'https://host' || p.host || '.example/p/' || {_LP_C1} FROM pages_g p
),
links_pos AS (
  SELECT src_url, dst,
         CAST(row_number() OVER (PARTITION BY src_url ORDER BY mo) - 1
              AS BIGINT) AS pos
  FROM (SELECT src_url, dst, MIN(ord) AS mo FROM cand_links GROUP BY 1, 2)
),
reach_p(url, depth, path) AS (
  SELECT p.url, 0, [CAST(s.j AS BIGINT)]
  FROM pages_g p JOIN {_SEED_VALUES} s(i, j) ON p.i = s.i
  UNION
  SELECT lp.dst, r.depth + 1, list_append(r.path, lp.pos)
  FROM reach_p r JOIN links_pos lp ON lp.src_url = r.url
  WHERE r.depth < {CRAWL_DEPTH}
),
best AS (SELECT url, MIN(depth) AS d FROM reach_p GROUP BY 1),
fp AS (SELECT r.url, r.depth, MIN(r.path) AS path
       FROM reach_p r JOIN best b ON b.url = r.url AND b.d = r.depth
       GROUP BY 1, 2)
"""

ORACLES["bfs_order"] = (
    _BFS_ORDER_CTES
    + """
SELECT url, CAST(depth AS INT) AS depth,
       CAST(row_number() OVER (ORDER BY depth, path) - 1 AS BIGINT)
       AS enqueue_seq
FROM fp
"""
)

# ---------------------------------------------------------------------------
# bfs_order_priority: the W2 priority frontier through the REAL crawl loop —
# same_domain=False (multi-host graph, so per-host seen counts actually
# reorder admission) with priority key
#   (depth*w_d + host_seen*w_h, parent_seq, link_pos).
# host_seen(host, g) = urls admitted in generations < g on that host — an
# order-independent quantity (without budget the admitted SET per wave is
# the BFS layer), so each wave's order is closed-form given the previous
# wave's seqs. The oracle unrolls the generations (max_depth+1 waves): no
# recursion needed, window functions allowed in every wave CTE.
# ---------------------------------------------------------------------------

PRIORITY_DEPTH = 3
PRIORITY_W_DEPTH = 0.25
PRIORITY_W_HOST = 1.0


def _bfs_priority_sql(
    max_depth: int = PRIORITY_DEPTH,
    w_d: float = PRIORITY_W_DEPTH,
    w_h: float = PRIORITY_W_HOST,
) -> str:
    def host(col: str) -> str:
        return f"regexp_extract({col}, 'https?://([^/]+)/', 1)"

    parts = [
        f"WITH {PAGES}, {pm.duckdb_links_pos_cte(SF)},",
        # wave 0: seeds in seed order (equal priority -> FIFO)
        f"""adm0 AS (
  SELECT p.url AS url, 'host' || p.host || '.example' AS host, 0 AS depth,
         CAST(s.j AS BIGINT) AS seq
  FROM pages_g p JOIN {_SEED_VALUES} s(i, j) ON p.i = s.i),""",
        "seen0 AS (SELECT url, host FROM adm0),",
    ]
    for g in range(1, max_depth + 1):
        parts.append(f"""cand{g} AS (
  SELECT lp.dst AS url, a.seq AS parent_seq, lp.pos AS link_pos
  FROM adm{g - 1} a JOIN links_pos lp ON lp.src_url = a.url
  WHERE lp.dst LIKE 'http://%' OR lp.dst LIKE 'https://%'),
new{g} AS (
  SELECT url, parent_seq, link_pos FROM (
    SELECT c.url, c.parent_seq, c.link_pos,
           ROW_NUMBER() OVER (PARTITION BY c.url
                              ORDER BY c.parent_seq, c.link_pos) AS rn
    FROM cand{g} c ANTI JOIN seen{g - 1} s ON s.url = c.url)
  WHERE rn = 1),
hs{g} AS (SELECT host, COUNT(*) AS c FROM seen{g - 1} GROUP BY 1),
adm{g} AS (
  SELECT n.url, {host('n.url')} AS host, {g} AS depth,
         (SELECT COUNT(*) FROM seen{g - 1})
         + ROW_NUMBER() OVER (ORDER BY
             {w_d} * {g} + COALESCE(h.c, 0) * {w_h},
             n.parent_seq, n.link_pos) - 1 AS seq
  FROM new{g} n LEFT JOIN hs{g} h ON h.host = {host('n.url')}),
seen{g} AS (SELECT url, host FROM seen{g - 1}
            UNION ALL SELECT url, host FROM adm{g}),""")
    union = " UNION ALL ".join(
        f"SELECT url, depth, seq FROM adm{g}" for g in range(max_depth + 1)
    )
    parts.append(
        f"final AS ({union}) SELECT url, CAST(depth AS INT) AS depth, "
        "CAST(seq AS BIGINT) AS enqueue_seq FROM final"
    )
    return "\n".join(parts)


ORACLES["bfs_order_priority"] = _bfs_priority_sql()

# ---------------------------------------------------------------------------
# bfs_order_priority_politeness: priority frontier AND crawl-delay deferral
# through the REAL loop, value-exact (VERDICT r3 item 5 — previously only
# an invariant test). The politeness window now changes WHICH generation a
# page's links expand in, so depth varies within a wave and the per-host
# counts accrue on the loop's generations, not BFS depths. The oracle
# unrolls the full generation loop (admission → schedule → eligible/
# deferred split → expand ELIGIBLE only); the engine's schedule salt is
# md5-derived, so the salt-group assignment is replayable in SQL.
# Only host0 carries a Crawl-delay (2 s) — its fetches spread across
# generations; every other host's delay is 0 (always eligible).
# ---------------------------------------------------------------------------

PP_DEPTH = 3
PP_W_DEPTH = 0.25
PP_W_HOST = 1.0
PP_WINDOW = 32.0
PP_DELAY = 2.0
PP_NSALTS = 2
PP_GENS = 24  # engine max_generations == unrolled waves; drain ends ~g14


PP_BUDGET = 4  # per-generation per-host admission cap (triple combo)


def _bfs_priority_politeness_sql(
    max_depth: int = PP_DEPTH,
    w_d: float = PP_W_DEPTH,
    w_h: float = PP_W_HOST,
    window: float = PP_WINDOW,
    delay: float = PP_DELAY,
    n_salts: int = PP_NSALTS,
    gens: int = PP_GENS,
    host_budget: int | None = None,
) -> str:
    def host(col: str) -> str:
        return f"regexp_extract({col}, 'https?://([^/]+)/', 1)"

    delay_of = f"CASE WHEN host = 'host0.example' THEN {delay} ELSE 0.0 END"

    def sched_block(g: int) -> str:
        return f"""sch{g} AS (
  SELECT url, host, depth, seq,
         ((ROW_NUMBER() OVER (PARTITION BY host, salt ORDER BY depth, seq)
           - 1) * {n_salts} + salt) * ({delay_of}) AS ft
  FROM (SELECT *, ('0x' || substr(md5(url), 1, 2))::BIGINT % {n_salts}
               AS salt FROM fet{g})),
eli{g} AS MATERIALIZED (
  SELECT url, host, depth, seq FROM sch{g} WHERE ft < {window}),
def{g} AS MATERIALIZED (
  SELECT url, host, depth, seq FROM sch{g} WHERE ft >= {window}),"""

    # seeds go through the same admission pipeline as links, so the
    # host budget caps the seed wave too (rank = seed order) and the
    # survivors are renumbered contiguously.
    seed_cap = (
        f"WHERE hr <= {host_budget}" if host_budget is not None else ""
    )
    parts = [
        f"WITH {PAGES}, {pm.duckdb_links_pos_cte(SF)},",
        f"""adm0 AS (
  SELECT url, host, 0 AS depth,
         CAST(ROW_NUMBER() OVER (ORDER BY j) - 1 AS BIGINT) AS seq
  FROM (
    SELECT p.url AS url, 'host' || p.host || '.example' AS host, s.j AS j,
           ROW_NUMBER() OVER (PARTITION BY p.host ORDER BY s.j) AS hr
    FROM pages_g p JOIN {_SEED_VALUES} s(i, j) ON p.i = s.i) {seed_cap}),
seen0 AS MATERIALIZED (SELECT url, host FROM adm0),
fet0 AS (SELECT url, host, depth, seq FROM adm0),""",
        sched_block(0),
    ]
    for g in range(1, gens):
        # the engine's salted_host_budget_cap is exact vs a plain per-host
        # row_number rank (property-tested), so the oracle uses the plain
        # window: per-host top-budget by admission order, BEFORE priority
        # scoring — same placement as frontier.py run_crawl.
        if host_budget is not None:
            cap_block = f"""cap{g} AS (
  SELECT url, depth, parent_seq, link_pos FROM (
    SELECT n.*, ROW_NUMBER() OVER (
      PARTITION BY {host('n.url')}
      ORDER BY n.parent_seq, n.link_pos) AS hr
    FROM new{g} n) WHERE hr <= {host_budget}),
"""
            adm_src = f"cap{g}"
        else:
            cap_block = ""
            adm_src = f"new{g}"
        parts.append(f"""cand{g} AS (
  SELECT lp.dst AS url, e.depth + 1 AS depth, e.seq AS parent_seq,
         lp.pos AS link_pos
  FROM eli{g - 1} e JOIN links_pos lp ON lp.src_url = e.url
  WHERE e.depth < {max_depth}
    AND (lp.dst LIKE 'http://%' OR lp.dst LIKE 'https://%')),
new{g} AS (
  SELECT url, depth, parent_seq, link_pos FROM (
    SELECT c.url, c.depth, c.parent_seq, c.link_pos,
           ROW_NUMBER() OVER (PARTITION BY c.url
                              ORDER BY c.parent_seq, c.link_pos) AS rn
    FROM cand{g} c ANTI JOIN seen{g - 1} s ON s.url = c.url)
  WHERE rn = 1),
{cap_block}hs{g} AS (SELECT host, COUNT(*) AS c FROM seen{g - 1} GROUP BY 1),
adm{g} AS MATERIALIZED (
  SELECT n.url, {host('n.url')} AS host, n.depth,
         (SELECT COUNT(*) FROM seen{g - 1})
         + ROW_NUMBER() OVER (ORDER BY
             {w_d} * n.depth + COALESCE(h.c, 0) * {w_h},
             n.parent_seq, n.link_pos) - 1 AS seq
  FROM {adm_src} n LEFT JOIN hs{g} h ON h.host = {host('n.url')}),
seen{g} AS MATERIALIZED (SELECT url, host FROM seen{g - 1}
            UNION ALL SELECT url, host FROM adm{g}),
fet{g} AS (SELECT url, host, depth, seq FROM adm{g}
           UNION ALL SELECT url, host, depth, seq FROM def{g - 1}),""")
        parts.append(sched_block(g))
    union = " UNION ALL ".join(
        f"SELECT url, depth, seq FROM adm{g}" for g in range(gens)
    )
    parts.append(
        f"final AS ({union}) SELECT url, CAST(depth AS INT) AS depth, "
        "CAST(seq AS BIGINT) AS enqueue_seq FROM final"
    )
    return "\n".join(parts)


ORACLES["bfs_order_priority_politeness"] = _bfs_priority_politeness_sql()

# the TRIPLE combination (VERDICT r4 item 6): priority frontier × crawl-
# delay politeness × per-host admission budget, all through the real loop,
# value-exact — the budget stage drops capped-out candidates before the
# priority rank, and dropped urls may legitimately re-candidate in later
# generations via other parents (never marked seen).
ORACLES["bfs_priority_politeness_budget"] = _bfs_priority_politeness_sql(
    host_budget=PP_BUDGET
)

# per-generation admitted counts: with no budget/politeness the engine's
# generation == BFS depth, so the metric rows are the per-depth counts
# A2 queue gauges: queued(g) = candidate links produced by the depth-(g-1)
# wave (seeds at g=0); completed(g) = cumulative admitted-and-fetched pages
# through depth g (every admitted row is fetched in its own generation in
# the no-politeness driver crawl); n_admitted(g) = per-depth admitted
# counts (absorbs the former frontier_status_counts row, round 5)
ORACLES["queue_stats"] = (
    _BFS_REACH
    + f""",
queued AS (
  SELECT 0 AS generation, COUNT(*) AS queued FROM closure WHERE depth = 0
  UNION ALL
  -- explicit DISTINCT: DuckDB re-expands the links_g UNION branches when
  -- the CTE is consumed alongside a recursive CTE, re-introducing the
  -- child/rel duplicate pairs the UNION had deduped
  SELECT CAST(c.depth + 1 AS INT), COUNT(*)
  FROM closure c
  JOIN (SELECT DISTINCT src_url, dst_url FROM links_g) l
    ON l.src_url = c.url
  WHERE c.depth < {CRAWL_DEPTH}
  GROUP BY c.depth + 1),
done AS (
  SELECT CAST(depth AS INT) AS generation,
         CAST(COUNT(*) AS BIGINT) AS n_admitted,
         CAST(SUM(COUNT(*)) OVER (ORDER BY depth) AS BIGINT) AS completed
  FROM closure GROUP BY depth)
SELECT q.generation, CAST(q.queued AS BIGINT) AS queued, d.completed,
       d.n_admitted
FROM queued q JOIN done d ON d.generation = q.generation
"""
)

ORACLES["bfs_depth_counts"] = (
    _BFS_REACH
    + "SELECT CAST(depth AS INT) AS depth, COUNT(*) AS n_urls FROM closure GROUP BY 1"
)

ORACLES["crawl_stats"] = (
    _BFS_REACH
    + """
SELECT CASE WHEN p.url IS NULL THEN 'missing' ELSE 'extracted' END AS status,
       COUNT(*) AS n
FROM closure r LEFT JOIN pages_g p ON r.url = p.url GROUP BY 1
"""
)

# robots fixture: host%4==2 disallows path prefix /p/1; host%4==3
# disallows the wildcard /p/*7$ (page ids ending in 7 — exercises the
# parser's */$ support); other variants never match page urls
ORACLES["robots_gate"] = f"""
WITH {PAGES}
SELECT url,
  CASE WHEN host % 4 = 2
       AND url LIKE 'https://host' || host || '.example/p/1%'
       THEN FALSE
       WHEN host % 4 = 3 AND url LIKE '%7'
       THEN FALSE
       ELSE TRUE END AS allowed
FROM pages_g
"""

ORACLES["md_clean"] = (
    "SELECT doc_id, '# Title ' || text || '  -x end' AS cleaned FROM documents"
)

# salted politeness slots: salt = md5-derived (mirrors
# politeness.salted_fetch_schedule); fetch_time = ((rank_within(host,salt) - 1) * n_salts + salt)
# * crawl_delay (politeness.py docstring), window 10s, delay 2s, n_salts 4
ORACLES["politeness_schedule"] = f"""
WITH {PAGES}, {LINKS},
cand AS (
  SELECT p.i AS seq, l.dst_url AS url,
         regexp_extract(l.dst_url, 'https://([^/]+)/', 1) AS host,
         ('0x' || substr(md5(l.dst_url), 1, 2))::BIGINT % 4 AS salt
  FROM links_g l JOIN pages_g p ON l.src_url = p.url
  WHERE p.i % 97 = 0),
sched AS (
  SELECT host,
    ((ROW_NUMBER() OVER (PARTITION BY host, salt ORDER BY seq, url) - 1)
      * 4 + salt) * 2.0 AS fetch_time
  FROM cand)
SELECT host,
  CAST(SUM(CASE WHEN fetch_time < 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_eligible,
  CAST(SUM(CASE WHEN fetch_time >= 10.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_deferred
FROM sched GROUP BY 1
"""

# ---------------------------------------------------------------------------
# chunking
# ---------------------------------------------------------------------------

# Two chunks per page: the reference never flushes on blank lines (its
# blank-line elif is dead code — semantic_chunker.py:101-110), so all
# content between headers coalesces; a code fence closes with everything
# accumulated before it inside the code chunk (semantic_chunker.py:51-71).
_CHUNKS = f"""
WITH {PAGES},
chunks AS (
  SELECT url, 0 AS position,
         doc_text || ' See [next](' || {pm.ducksql_url(_c0(), N_HOSTS)} || ').' AS content,
         'text' AS type,
         CAST(len(string_split_regex(trim(doc_text), '\\s+')) + 2 AS INT) AS word_count,
         CAST(NULL AS VARCHAR) AS code_language
  FROM pages_g
  UNION ALL
  SELECT url, 1,
    'Details for page ' || i || '.' || chr(10) || chr(10) ||
    CASE i % 4
      WHEN 0 THEN '```python' || chr(10) || 'print(' || i || ')' || chr(10) || '```'
      WHEN 1 THEN '- alpha ' || i || chr(10) || '- beta'
      WHEN 2 THEN '| k | v |' || chr(10) || '|---|---|' || chr(10) || '| a | ' || (i % 10) || ' |'
      ELSE 'Closing note ' || i || '.' END,
    CASE i % 4 WHEN 0 THEN 'code' WHEN 2 THEN 'table' ELSE 'text' END,
    CASE i % 4 WHEN 0 THEN 7 WHEN 1 THEN 9 WHEN 2 THEN 15 ELSE 7 END,
    CASE i % 4 WHEN 0 THEN 'python' ELSE NULL END
  FROM pages_g
)
"""

ORACLES["semantic_chunks"] = (
    _CHUNKS
    + "SELECT url, CAST(position AS INT) AS position, content, type, "
    "word_count, code_language FROM chunks"
)

ORACLES["chunk_positions"] = (
    _CHUNKS
    + "SELECT url, CAST(position AS INT) AS position, "
    "url || '#' || position AS chunk_id FROM chunks"
)

ORACLES["chunk_stats"] = (
    _CHUNKS
    + "SELECT type, COUNT(*) AS n_chunks, CAST(SUM(word_count) AS BIGINT) "
    "AS total_words FROM chunks GROUP BY 1"
)

# flagship integration: per-language corpus stats over quality-bucketed
# chunks — chunk contents come from the closed-form _CHUNKS formulas, the
# language from the page model, token/quality math mirrored exactly
_STOP = "['the','a','and','of','to','is','in']"
ORACLES["training_pipeline"] = (
    _CHUNKS
    + f""",
feats AS (
  SELECT p.lang AS language, c.type,
    CAST(len(string_split_regex(trim(c.content), '\\s+')) AS INT) AS ws_tokens,
    CAST(list_sum([(length(w) + 3) // 4
          for w in string_split_regex(trim(c.content), '\\s+')]) AS INT) AS bpe_tokens,
    CAST(CASE WHEN len(string_split_regex(c.content, '\\s+')) >= 20 AND
         len(list_filter(string_split_regex(c.content, '\\s+'),
             x -> list_contains({_STOP}, lower(x)))) * 100
         >= len(string_split_regex(c.content, '\\s+')) * 5 THEN 2
         WHEN len(string_split_regex(c.content, '\\s+')) >= 5 THEN 1
         ELSE 0 END AS INT) AS quality_bucket
  FROM chunks c JOIN pages_g p ON p.url = c.url)
SELECT language, type, quality_bucket,
       COUNT(*) AS n_chunks,
       CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens
FROM feats GROUP BY 1, 2, 3
"""
)

# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

_BOTH_EXACT = (
    "corpus2 AS (SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 10000, text FROM documents)"
)
_BOTH_NEAR = (
    "corpus2 AS (SELECT doc_id AS id, text FROM documents UNION ALL "
    "SELECT doc_id + 10000, text || ' extra tail words here' FROM documents)"
)
_SHINGLES = """
sh AS (
  SELECT id, CASE WHEN len(w) >= 3
    THEN list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w)-1)])
    ELSE [array_to_string(w, ' ')] END AS sh
  FROM (SELECT id, string_split_regex(trim(text), '\\s+') AS w FROM corpus2)
)
"""

ORACLES["dedup_exact"] = f"""
WITH {_BOTH_EXACT}
SELECT md5(text) AS fingerprint, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM corpus2 GROUP BY 1
"""

ORACLES["dedup_ngram_jaccard"] = f"""
WITH {_BOTH_NEAR}, {_SHINGLES},
pairs AS (SELECT doc_id AS id_a, doc_id + 10000 AS id_b FROM documents)
SELECT p.id_a, p.id_b,
  CAST(len(list_intersect(sa.sh, sb.sh)) AS INT) AS n_intersect,
  CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS INT) AS n_union
FROM pairs p JOIN sh sa ON sa.id = p.id_a JOIN sh sb ON sb.id = p.id_b
WHERE len(list_intersect(sa.sh, sb.sh)) * 100
      >= 60 * len(list_distinct(list_concat(sa.sh, sb.sh)))
"""

# affine MinHash family (mirrors dedup.py: one md5-derived 28-bit base hash
# per shingle, then (a_p*h + b_p) mod 2^31-1 per permutation)
_HV = (
    "hvt AS (SELECT id, sh, "
    "[('0x' || substr(md5(s), 1, 7))::BIGINT for s in sh] AS hv FROM sh)"
)
_SIGS = ", ".join(
    f"list_min([({1_000_003 + 7_919 * p} * v + {12_345 + 104_729 * p}) "
    f"% 2147483647 for v in hv]) AS m{p}"
    for p in range(16)
)
_BANDS = " UNION ALL ".join(
    f"SELECT id, {b} AS band, m{4 * b}::VARCHAR || '|' || "
    f"m{4 * b + 1}::VARCHAR || '|' || m{4 * b + 2}::VARCHAR || '|' || "
    f"m{4 * b + 3}::VARCHAR AS key FROM sig"
    for b in range(4)
)

ORACLES["dedup_minhash"] = f"""
WITH {_BOTH_NEAR}, {_SHINGLES}, {_HV},
sig AS (SELECT id, {_SIGS} FROM hvt),
bands AS ({_BANDS}),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
         WHERE a.id < b.id)
SELECT c.id_a, c.id_b,
  CAST(len(list_intersect(sa.sh, sb.sh)) AS INT) AS n_intersect,
  CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS INT) AS n_union
FROM cand c JOIN sh sa ON sa.id = c.id_a JOIN sh sb ON sb.id = c.id_b
WHERE len(list_intersect(sa.sh, sb.sh)) * 100
      >= 60 * len(list_distinct(list_concat(sa.sh, sb.sh)))
"""

_BITSUMS = ", ".join(
    f"list_sum([((v // {1 << j}) % 2) * 2 - 1 for v in hv]) AS s{j}" for j in range(32)
)
_SIGSUM = " + ".join(f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(32))

ORACLES["dedup_simhash"] = f"""
WITH {_BOTH_NEAR},
hv AS (SELECT id, [('0x' || substr(md5(w), 1, 8))::BIGINT
                   for w in list_distinct(string_split_regex(trim(lower(text)), '\\s+'))] AS hv
       FROM corpus2),
bits AS (SELECT id, {_BITSUMS} FROM hv),
sigs AS (SELECT id, CAST({_SIGSUM} AS BIGINT) AS sig FROM bits),
pairs AS (SELECT doc_id AS id_a, doc_id + 10000 AS id_b FROM documents)
SELECT p.id_a, p.id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM pairs p JOIN sigs a ON a.id = p.id_a JOIN sigs b ON b.id = p.id_b
WHERE bit_count(xor(a.sig, b.sig)) <= 32
"""

_CORPUS3 = (
    "corpus3 AS (SELECT doc_id AS id, text FROM documents "
    "UNION ALL SELECT doc_id + 10000, text || ' extra tail words here' FROM documents "
    "UNION ALL SELECT doc_id + 20000, text || ' extra tail words here more' FROM documents)"
)
_SHINGLES3 = _SHINGLES.replace("FROM corpus2", "FROM corpus3")

# near-dup clusters: MinHash pairs over corpus3, symmetric closure,
# component = min reachable id via recursive UNION (fixpoint, cycle-safe)
ORACLES["dedup_components"] = f"""
WITH RECURSIVE {_CORPUS3}, {_SHINGLES3}, {_HV},
sig AS (SELECT id, {_SIGS} FROM hvt),
bands AS ({_BANDS}),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
         WHERE a.id < b.id),
dup_pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN sh sa ON sa.id = c.id_a JOIN sh sb ON sb.id = c.id_b
  WHERE len(list_intersect(sa.sh, sb.sh)) * 100
        >= 60 * len(list_distinct(list_concat(sa.sh, sb.sh)))),
edges AS (SELECT id_a AS src, id_b AS dst FROM dup_pairs
          UNION SELECT id_b, id_a FROM dup_pairs),
reach(a, b) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
),
comp AS (SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a)
SELECT c3.id, COALESCE(comp.component, c3.id) AS component,
       c3.id = COALESCE(comp.component, c3.id) AS is_survivor
FROM corpus3 c3 LEFT JOIN comp ON comp.id = c3.id
"""

_DOT = (
    "list_reduce([{a}[i]::DOUBLE * {b}[i]::DOUBLE for i in range(1, len({a})+1)], "
    "(x, y) -> x + y)"
)


def _cos(a: str, b: str) -> str:
    return (
        f"({_DOT.format(a=a, b=b)} / "
        f"(sqrt({_DOT.format(a=a, b=a)}) * sqrt({_DOT.format(a=b, b=b)})))"
    )


ORACLES["dedup_embedding"] = f"""
WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
copies AS (SELECT vec_id + 10000 AS vec_id, vec_id AS orig,
                  CASE WHEN vec_id % 2 = 0 THEN v
                       ELSE [-x for x in v] END AS v
           FROM e)
SELECT e.vec_id AS id_a, c.vec_id AS id_b
FROM e JOIN copies c ON c.orig = e.vec_id
WHERE {_cos("e.v", "c.v")} >= 0.95
"""

# embedding near-dup via sign buckets: bucket bit j = (v · anchor_j > 0),
# anchors = first-8 corpus vectors (mirrors similarity.default_anchors)
ORACLES["dedup_embedding_lsh"] = f"""
WITH base AS (SELECT vec_id, embedding AS v FROM embeddings),
both_e AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 10000,
         CASE WHEN vec_id % 2 = 0 THEN v ELSE [-x for x in v] END
  FROM base),
a AS (SELECT vec_id AS aid, embedding AS av FROM embeddings WHERE vec_id < 8),
dots AS (SELECT e.vec_id, a.aid, {_DOT.format(a="e.v", b="a.av")} AS dot
         FROM both_e e, a),
buckets AS (SELECT vec_id,
                   SUM(CASE WHEN dot > 0 THEN CAST(POW(2, aid) AS BIGINT)
                       ELSE 0 END) AS bucket
            FROM dots GROUP BY 1),
cand AS (
  SELECT ea.vec_id AS id_a, eb.vec_id AS id_b, ea.v AS va, eb.v AS vb
  FROM buckets ba JOIN buckets bb ON ba.bucket = bb.bucket
                 AND ba.vec_id < bb.vec_id
  JOIN both_e ea ON ea.vec_id = ba.vec_id
  JOIN both_e eb ON eb.vec_id = bb.vec_id)
SELECT id_a, id_b FROM cand WHERE {_cos("va", "vb")} >= 0.95
"""

# winnowing sketch: K=8, W=16, B=131, M=2^61-1. ASCII corpus keeps the
# 8-term polynomial < 2^60, so poly % M == poly and matches the Python
# rolling hash exactly (functions/text.py:winnow_fingerprint_udf)
_WINNOW_POLY = " + ".join(
    f"unicode(substr(text, g.i + {j + 1}, 1))::BIGINT * {131 ** (7 - j)}"
    for j in range(8)
)

ORACLES["winnow_sketch"] = f"""
WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents
           WHERE length(text) >= 8),
hs AS (
  -- fixed series + filter: DuckDB's generate_series cannot take a
  -- lateral column bound
  SELECT doc_id, g.i AS i, ({_WINNOW_POLY}) % 2305843009213693951 AS h
  FROM t, generate_series(0, 4095) g(i) WHERE g.i <= n - 8),
wm AS (SELECT doc_id, i,
              MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS m,
              COUNT(*) OVER (PARTITION BY doc_id) AS nh
       FROM hs),
wins AS (SELECT doc_id, i, m FROM wm WHERE i <= GREATEST(nh - 16, 0)),
ded AS (SELECT doc_id, i, m,
               LAG(m) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM wins),
keep AS (SELECT doc_id, i, m FROM ded WHERE prev IS NULL OR m != prev)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS INT)
       AS sketch_pos,
       m AS hash
FROM keep
"""

ORACLES["ann_bruteforce"] = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {_cos("qv", "cv")} AS cos
  FROM q, c WHERE query_id != neighbor_id),
r AS (SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
"""

ORACLES["ann_lsh"] = f"""
WITH a AS (SELECT vec_id AS aid, embedding AS av FROM embeddings WHERE vec_id < 8),
v AS (SELECT vec_id, embedding AS vv FROM embeddings),
dots AS (SELECT v.vec_id, a.aid, {_DOT.format(a="v.vv", b="a.av")} AS dot FROM v, a),
buckets AS (SELECT vec_id, SUM(CASE WHEN dot > 0 THEN CAST(POW(2, aid) AS BIGINT) ELSE 0 END) AS bucket
            FROM dots GROUP BY 1),
q AS (SELECT b.vec_id AS query_id, v.vv AS qv, b.bucket
      FROM buckets b JOIN v ON v.vec_id = b.vec_id WHERE b.vec_id % 50 = 0),
c AS (SELECT b.vec_id AS neighbor_id, v.vv AS cv, b.bucket
      FROM buckets b JOIN v ON v.vec_id = b.vec_id),
scored AS (SELECT query_id, neighbor_id, {_cos("qv", "cv")} AS cos
           FROM q JOIN c ON q.bucket = c.bucket WHERE query_id != neighbor_id),
r AS (SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
"""

# IVF ANN with the sampled coarse quantizer (first-8 corpus vectors):
# corpus cell = argmin over centroids of -cosine (ties -> lowest cell id,
# similarity.py:_nearest_cell); each query probes its 2 nearest cells
ORACLES["ann_ivf"] = f"""
WITH cents AS (SELECT vec_id AS cell, embedding AS cv FROM embeddings
               WHERE vec_id < 8),
cd AS (SELECT v.vec_id, c.cell, {_cos("v.embedding", "c.cv")} AS cos
       FROM embeddings v, cents c),
assigned AS (SELECT vec_id, cell FROM (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
  FROM cd) WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cell FROM (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
  FROM cd WHERE vec_id % 50 = 0) WHERE rn <= 2),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_cos("q.embedding", "n.embedding")} AS cos
  FROM probes p
  JOIN assigned a ON a.cell = p.cell
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings n ON n.vec_id = a.vec_id
  WHERE p.query_id != a.vec_id),
r AS (SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
"""

# ---------------------------------------------------------------------------
# sentence chunker (C2): closed-form replay of the pinned contract
# (chunker.py:sentence_chunks) over the deterministically sentence-
# structured texts built by queries.q_sentence_chunks. Three stages:
# sentence synthesis (length cycle 1,9,2,7,11,3,8), min-chars(12) forward
# merge (recursive chain over precomputed merge ends), greedy pack to 24
# tokens with sentence-level overlap <= 8 (recursive chain over
# precomputed pack ends / next starts).
# ---------------------------------------------------------------------------

_SC_SIZE, _SC_OVERLAP, _SC_MINCH = 24, 8, 12

# Batch /chunk endpoint replay (absorbs the former ``sentence_chunks``
# row — its 24/8 config is the m==0 request class). The sentence-chunker
# machinery is the proven C2 closed-form recursion, now parameterized
# per-doc (prm: size_p/ov_p from the request mix); the semantic rows are
# the endpoint's degenerate one-line outcomes predicted directly
# (chunk_batch.py module docstring), and misses get the failed-scrape
# envelope (chunk_service.py:81-88).
ORACLES["chunk_requests"] = f"""
WITH RECURSIVE
d AS (SELECT doc_id, 'https://docs.example/' || doc_id AS url,
             doc_id % 6 AS m,
             string_split_regex(trim(text), '\\s+') AS w,
             len(string_split_regex(trim(text), '\\s+')) AS n
      FROM documents),
prm AS (SELECT doc_id,
               CASE m WHEN 0 THEN 24 WHEN 1 THEN 32 ELSE 512 END AS size_p,
               CASE m WHEN 0 THEN 8 ELSE 50 END AS ov_p
        FROM d WHERE m <= 2),
sents AS (
  SELECT doc_id, k, array_to_string(w[off_ + 1 : off_ + l_], ' ') || '.' AS s
  FROM (SELECT doc_id, w, n, g.k,
          (g.k // 7) * 41 + ([0,1,10,12,19,30,33])[g.k % 7 + 1] AS off_,
          ([1,9,2,7,11,3,8])[g.k % 7 + 1] AS l_
        FROM d, generate_series(0, 31) g(k))
  WHERE off_ < n),
sl AS (SELECT doc_id, s, length(s) AS c,
              CAST(len(string_split_regex(s, '\\s+')) AS BIGINT) AS tk,
              SUM(length(s)) OVER (PARTITION BY doc_id ORDER BY k) AS cc,
              ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY k) AS idx,
              COUNT(*) OVER (PARTITION BY doc_id) AS ns
       FROM sents),
txt AS (SELECT doc_id, string_agg(s, ' ' ORDER BY idx) AS text2,
               SUM(tk) AS toks
        FROM sl GROUP BY doc_id),
mend AS (
  SELECT a.doc_id, a.idx AS s, a.ns,
    COALESCE((SELECT MIN(b.idx) FROM sl b WHERE b.doc_id = a.doc_id
              AND b.idx >= a.idx
              AND b.cc - (a.cc - a.c) + (b.idx - a.idx) >= {_SC_MINCH}),
             a.ns) AS e
  FROM sl a JOIN prm USING (doc_id)),
mchain(doc_id, uno, s) AS (
  SELECT doc_id, 0, 1 FROM prm
  UNION ALL
  SELECT m.doc_id, m.uno + 1, me.e + 1
  FROM mchain m JOIN mend me ON me.doc_id = m.doc_id AND me.s = m.s
  WHERE me.e < me.ns),
units AS (
  SELECT u.doc_id, u.uno + 1 AS idx, u.content, u.toks,
         SUM(u.toks) OVER (PARTITION BY u.doc_id ORDER BY u.uno) AS t,
         COUNT(*) OVER (PARTITION BY u.doc_id) AS nu
  FROM (
    SELECT mc.doc_id, mc.uno,
      (SELECT string_agg(b.s, ' ' ORDER BY b.idx) FROM sl b
        WHERE b.doc_id = mc.doc_id AND b.idx BETWEEN mc.s AND me.e) AS content,
      (SELECT SUM(b.tk) FROM sl b
        WHERE b.doc_id = mc.doc_id AND b.idx BETWEEN mc.s AND me.e) AS toks
    FROM mchain mc JOIN mend me ON me.doc_id = mc.doc_id AND me.s = mc.s) u),
pend AS (
  SELECT a.doc_id, a.idx AS s, a.nu, (a.t - a.toks) AS base,
    COALESCE((SELECT MAX(b.idx) FROM units b WHERE b.doc_id = a.doc_id
              AND b.idx >= a.idx AND b.t - (a.t - a.toks) <= p.size_p),
             a.idx) AS e
  FROM units a JOIN prm p USING (doc_id)),
pnext AS (
  SELECT pe.doc_id, pe.s, pe.e, pe.nu, pe.base, eu.t AS te,
    COALESCE((SELECT MIN(j.idx) FROM units j WHERE j.doc_id = pe.doc_id
              AND j.idx > pe.s AND j.idx <= pe.e
              AND eu.t - (j.t - j.toks) <= p.ov_p), pe.e + 1) AS s2
  FROM pend pe JOIN units eu ON eu.doc_id = pe.doc_id AND eu.idx = pe.e
  JOIN prm p ON p.doc_id = pe.doc_id),
pchain(doc_id, pos, s) AS (
  SELECT doc_id, 0, 1 FROM (SELECT DISTINCT doc_id FROM units)
  UNION ALL
  SELECT p.doc_id, p.pos + 1, pn.s2
  FROM pchain p JOIN pnext pn ON pn.doc_id = p.doc_id AND pn.s = p.s
  WHERE pn.e < pn.nu),
sent_chunks AS (
  SELECT p.doc_id, CAST(p.pos AS INT) AS position,
         CAST(pn.te - pn.base AS INT) AS word_count,
         (SELECT string_agg(c.content, ' ' ORDER BY c.idx) FROM units c
           WHERE c.doc_id = p.doc_id AND c.idx BETWEEN p.s AND pn.e) AS content
  FROM pchain p JOIN pnext pn ON pn.doc_id = p.doc_id AND pn.s = p.s),
sent_stats AS (
  SELECT doc_id, COUNT(*) AS total_chunks,
         CAST(SUM(word_count) AS DOUBLE) / COUNT(*) AS avg_sz
  FROM sent_chunks GROUP BY doc_id)
SELECT d.url, TRUE AS success, CAST(NULL AS VARCHAR) AS error,
       'sentence' AS chunker_type,
       CAST(ss.total_chunks AS INT) AS total_chunks,
       ss.avg_sz AS avg_chunk_size, t.text2 AS markdown,
       sc.position, sc.content, 'text' AS chunk_type, sc.word_count,
       CAST(NULL AS BOOLEAN) AS needs_merge,
       CAST(NULL AS BOOLEAN) AS needs_split
FROM sent_chunks sc JOIN d USING (doc_id) JOIN txt t USING (doc_id)
JOIN sent_stats ss USING (doc_id)
UNION ALL
SELECT d.url, TRUE, NULL,
       CASE d.m WHEN 5 THEN 'bogus' ELSE 'semantic' END,
       0, 0.0, t.text2,
       NULL, NULL, NULL, NULL, NULL, NULL
FROM d JOIN txt t USING (doc_id) WHERE d.m IN (3, 5)
UNION ALL
SELECT d.url, TRUE, NULL, 'semantic', 1,
       CAST(4 + t.toks AS DOUBLE),
       'Intro ' || d.doc_id || '. ## Sec ' || t.text2,
       0, 'Intro ' || d.doc_id || '. ## Sec ' || t.text2, 'text',
       CAST(4 + t.toks AS INT),
       CASE WHEN d.doc_id % 12 = 4 THEN 4 + t.toks < 200
            ELSE 4 + t.toks < 10 END,
       CASE WHEN d.doc_id % 12 = 4 THEN 4 + t.toks > 1500
            ELSE 4 + t.toks > 50 END
FROM d JOIN txt t USING (doc_id) WHERE d.m = 4
UNION ALL
SELECT d.url || '-missing', FALSE, 'Failed to scrape URL', NULL,
       0, 0.0, '', NULL, NULL, NULL, NULL, NULL, NULL
FROM d WHERE d.doc_id % 7 = 0
"""

# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

# the engine's marker matrices are the single source of truth (top-20
# langs; zh/ja additionally score char-bigram substring occurrences —
# text.py LANG_CHAR_MARKERS); the scoring/argmax SQL below stays an
# independent implementation
from .functions.text import LANG_CHAR_MARKERS as _CMARKERS  # noqa: E402
from .functions.text import LANG_MARKERS as _MARKERS  # noqa: E402


def _char_score_sql(lang: str) -> str:
    if lang not in _CMARKERS:
        return ""
    terms = " + ".join(
        f"CAST((length(text) - length(replace(text, '{m}', ''))) // {len(m)} AS INT)"
        for m in _CMARKERS[lang]
    )
    return f" + {terms}"


_LANG_SCORES = " UNION ALL ".join(
    f"SELECT doc_id, '{lang}' AS lang, "
    f"CAST(len(list_filter(words, x -> list_contains({list(ms)}, x))) AS INT)"
    f"{_char_score_sql(lang)} AS score "
    f"FROM w"
    for lang, ms in sorted(_MARKERS.items())
)

ORACLES["lang_id"] = f"""
WITH w AS (SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS words FROM documents),
s AS ({_LANG_SCORES}),
r AS (SELECT doc_id, lang, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
      FROM s)
SELECT doc_id, CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
FROM r WHERE rn = 1
"""

ORACLES["quality_score"] = """
WITH w AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS words FROM documents)
SELECT doc_id,
  CAST(length(text) AS INT) AS n_chars,
  CAST(len(words) AS INT) AS n_words,
  CAST(len(list_filter(words, x ->
    list_contains(['the','a','and','of','to','is','in'], lower(x)))) AS INT) AS n_stopwords,
  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS INT) AS n_alpha,
  CAST(CASE WHEN len(words) >= 20 AND
       len(list_filter(words, x -> list_contains(['the','a','and','of','to','is','in'], lower(x)))) * 100
       >= len(words) * 5 THEN 2
       WHEN len(words) >= 5 THEN 1 ELSE 0 END AS INT) AS quality_bucket,
  CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS ws_tokens,
  CAST(list_sum([(length(w) + 3) // 4
        for w in string_split_regex(trim(text), '\\s+')]) AS INT) AS bpe_tokens,
  md5(text) AS fingerprint
FROM w
"""

ORACLES["extract_cache"] = f"""
-- append-only snapshot after the 3-run TTL protocol: run 0 cached
-- i%3==0, run 1 cached i%3==1, run 3 (ttl 2 runs => valid cache is
-- run_id >= 1) re-extracted the never-cached (i%3==2) and the expired
-- (i%3==0) pages; original rows survive (the cache appends, never
-- overwrites)
WITH {PAGES}
SELECT url, CAST(0 AS INT) AS run_id, md AS markdown, title,
       lang AS language FROM pages_g WHERE i % 3 = 0
UNION ALL
SELECT url, CAST(1 AS INT) AS run_id, md AS markdown, title,
       lang AS language FROM pages_g WHERE i % 3 = 1
UNION ALL
SELECT url, CAST(3 AS INT) AS run_id, md AS markdown, title,
       lang AS language FROM pages_g WHERE i % 3 <> 1
"""

ORACLES["multimodal_features"] = """
-- REAL decode path (r6): the engine builds real PNG/GIF/BMP/WAV/MP4
-- containers from (doc_id, text) and parses them back with the stdlib
-- header decoders; this oracle predicts every field in closed form from
-- the inverted construction (container overhead constants mirror
-- multimodal._build_*; every 31st blob is corrupt -> error envelope).
SELECT doc_id AS blob_id,
  CASE WHEN doc_id % 31 = 0 THEN NULL
       WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
  CAST(CASE WHEN doc_id % 31 = 0 THEN 21
       WHEN doc_id % 3 = 0 THEN
            (CASE doc_id % 9 WHEN 0 THEN 57 WHEN 3 THEN 11 ELSE 26 END) + length(text)
       WHEN doc_id % 3 = 1 THEN 44 + 2 * (length(text) % 16000 + 1)
       ELSE 180 + length(text) END AS INT) AS n_bytes,
  CAST(CASE WHEN doc_id % 31 = 0 THEN NULL
       WHEN doc_id % 3 = 0 THEN length(text) % 640 + 1
       WHEN doc_id % 3 = 1 THEN 0
       ELSE length(text) % 1920 + 1 END AS INT) AS width,
  CAST(CASE WHEN doc_id % 31 = 0 THEN NULL
       WHEN doc_id % 3 = 0 THEN length(text) % 480 + 1
       WHEN doc_id % 3 = 1 THEN 0
       ELSE length(text) % 1080 + 1 END AS INT) AS height,
  CAST(CASE WHEN doc_id % 31 = 0 THEN NULL
       WHEN doc_id % 3 = 0 THEN 1
       WHEN doc_id % 3 = 1 THEN length(text) % 16000 + 1
       ELSE length(text) % 300 + 1 END AS INT) AS n_frames,
  CASE WHEN doc_id % 31 = 0
       THEN 'ValueError: unrecognized media container (magic bytes unknown)'
       ELSE NULL END AS error
FROM documents
"""

ORACLES["events_summary"] = """
WITH s AS (
  SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1),
r AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM events),
m AS (SELECT event_type, value AS median_value FROM r WHERE rn = (cnt + 1) // 2)
SELECT s.event_type, s.n_events, s.n_users, m.median_value
FROM s JOIN m ON m.event_type = s.event_type
"""
