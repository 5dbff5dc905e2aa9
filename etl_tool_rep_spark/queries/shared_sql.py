"""Oracle-SQL fragments shared by every query built on the exact
3-gram set of the documents table, or on the co-supplier graph.

One definition of the trigram universe (tokenize on whitespace,
distinct word 3-grams per (doc, source block), per-doc gram counts)
feeds three oracles — ngram_jaccard_dedup (tier 3),
containment_dedup (tier 19) and dedup_components_exact (tier 20).
Any change to the tokenizer regex, the shingle width or the blocking
key happens HERE and in operators/dedup.gram_set (its Spark twin),
or the three oracles silently diverge from each other and from the
engine.
"""

# toks/tri/counts: the gram universe. Callers append their own
# `inter` (directed or undirected) and tail.
NGRAM_GRAM_CTES = r"""
    toks AS (
      SELECT doc_id, source, str_split_regex(text, '\s+') AS w
      FROM documents WHERE text IS NOT NULL
    ), tri AS (
      SELECT DISTINCT doc_id, source,
             w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS g
      FROM toks, LATERAL (SELECT unnest(range(greatest(len(w) - 2, 0)))
                          AS i) s
      WHERE len(w) >= 3
    ), counts AS (
      SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id
    )"""

# undirected (a < b) pairwise intersection counts
NGRAM_INTER_UNDIRECTED = r""", inter AS (
      SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS ni
      FROM tri a JOIN tri b
        ON a.g = b.g AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""

# ... plus the 0.05-Jaccard pair set — the candidate graph tier 20's
# component recursion walks
NGRAM_JACCARD_PAIRS_CTES = NGRAM_GRAM_CTES + NGRAM_INTER_UNDIRECTED + r""", pairs AS (
      SELECT i.id_1, i.id_2
      FROM inter i
      JOIN counts ca ON ca.doc_id = i.id_1
      JOIN counts cb ON cb.doc_id = i.id_2
      WHERE i.ni * 1.0 / (ca.n + cb.n - i.ni) >= 0.05
    )"""

# the co-supplier graph (suppliers sharing an order, both directions)
# the graph oracles walk — the SQL twin of
# operators/graph.co_supplier_edges. (order, supplier) is made
# distinct BEFORE the self-join: m duplicate supplier lines per order
# would fan the join m^2-fold only for the outer DISTINCT to collapse
# it (at sf10 the raw-lineitem form blew a 40 GB DuckDB temp fence).
CO_SUPPLIER_EDGES_CTES = """
    li AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    edges AS MATERIALIZED (
      SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
      FROM li l1 JOIN li l2
        ON l1.l_orderkey = l2.l_orderkey
       AND l1.l_suppkey <> l2.l_suppkey)"""
