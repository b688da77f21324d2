"""Search-platform term generation: the S2IndexingHelper surface
(S2IndexingHelper.java:22-60, S2IndexingHelperImpl.java:330-470).

Regions index into an inverted term index and query it with plain string
equality — the integration point for search platforms where the only
primitive is term match. Since S2 cells are hierarchical, a cell
intersects exactly itself, its ancestors, and its descendants; the term
scheme encodes that:

* INDEX terms of a covering cell c at level L (RULES 1-3 of the
  reference's javadoc): a COVERING term for c when L < max_level, plus
  (in the default optimize-for-complexity mode) an ANCESTOR term for c;
  leaf-level cells emit only the ANCESTOR term; every valid-level strict
  ancestor of c emits an ANCESTOR term.
* QUERY terms of a covering cell q: an ANCESTOR term for q (hits
  documents whose covering contains a cell equal to or below q... i.e.
  q equal to or an ancestor of a document cell), plus COVERING terms for
  q's strict ancestors (hits documents whose covering contains an
  ancestor of q); optimize-for-space mode also looks up q itself as a
  COVERING term.

Term strings: ANCESTOR terms are the bare cell token; COVERING terms are
'$' + token (the reference's Java API returns typed Term objects — the
string encoding is this engine's, chosen so type-correct matches are
plain string equality).

Everything below is pure Column arithmetic over covering rows (cell ids
denormalized to the [min_level, max_level, level_mod] lattice by
coverings_df) — no Python in the term path, so document-side term
generation scales as a map-only stage and retrieval is one equi-join on
the term string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import columns as cc


def _valid_levels(min_level: int, max_level: int, level_mod: int) -> list[int]:
    return list(range(min_level, max_level + 1, level_mod))


def _ancestor_terms(min_level: int, max_level: int, level_mod: int,
                    prefix: str) -> F.Column:
    """Array of terms for every valid-level STRICT ancestor of cell_id
    (S2IndexingHelperImpl.buildTermsForAncestors)."""
    lvl = cc.level("cell_id")
    terms = [
        F.when(lvl > L, F.concat(F.lit(prefix), cc.token(cc.parent("cell_id", L))))
        for L in _valid_levels(min_level, max_level - 1, level_mod)
    ]
    return F.array(*terms) if terms else F.array()


def index_terms(
    coverings: DataFrame,
    min_level: int,
    max_level: int,
    level_mod: int = 1,
    optimize_for_space: bool = False,
    doc_id: str = "shape_id",
) -> DataFrame:
    """(doc_id, term) rows for covering rows (doc_id, cell_id)
    (S2IndexingHelperImpl.getIndexTerms(Iterable<S2CellId>))."""
    lvl = cc.level("cell_id")
    tok = cc.token("cell_id")
    own = [
        # covering term for non-leaf cells
        F.when(lvl < max_level, F.concat(F.lit("$"), tok)),
        # ancestor term: leaf cells always (RULE 3); non-leaf cells too in
        # optimize-for-complexity mode (RULE 2)
        tok if not optimize_for_space else F.when(lvl >= max_level, tok),
    ]
    terms = F.concat(
        F.array(*own), _ancestor_terms(min_level, max_level, level_mod, "")
    )
    return (
        coverings.select(
            F.col(doc_id).alias("doc_id"),
            F.explode(F.filter(terms, lambda t: t.isNotNull())).alias("term"),
        )
        .distinct()
    )


def query_terms(
    coverings: DataFrame,
    min_level: int,
    max_level: int,
    level_mod: int = 1,
    optimize_for_space: bool = False,
    query_id: str = "query_id",
) -> DataFrame:
    """(query_id, term) rows for query covering rows
    (S2IndexingHelperImpl.getQueryTerms(Iterable<S2CellId>))."""
    lvl = cc.level("cell_id")
    tok = cc.token("cell_id")
    own = [tok]
    if optimize_for_space:
        # RULE 3: look up non-leaf query cells as covering terms too
        own.append(F.when(lvl < max_level, F.concat(F.lit("$"), tok)))
    terms = F.concat(
        F.array(*own), _ancestor_terms(min_level, max_level, level_mod, "$")
    )
    return (
        coverings.select(
            F.col(query_id).alias("query_id"),
            F.explode(F.filter(terms, lambda t: t.isNotNull())).alias("term"),
        )
        .distinct()
    )


def term_matches(doc_terms: DataFrame, q_terms: DataFrame) -> DataFrame:
    """(doc_id, query_id) candidate pairs: documents sharing at least one
    term with the query — the search-platform retrieval join. Guaranteed
    to include every truly intersecting pair (covering soundness +
    hierarchy completeness of the term scheme); false positives are the
    usual covering slack, refined downstream by exact geometry."""
    return (
        doc_terms.join(q_terms, "term")
        .select("doc_id", "query_id")
        .distinct()
    )
