"""The eov_to_keywords companion flow (SURVEY.md §3 companion;
notebooks/eov_to_keywords.Rmd:42-67).

Reference dataflow: S8 JDBC scan of the EOV-association join -> K3 CSV
backup; S7 tkeywords API scan -> F4 regex filter (goosocean vocabulary) ->
J4 left join on differently-named keys -> P1 projection -> K7 table
overwrite. Re-expressed with injected sources so the flow is testable
without a live GeoNode: callers pass the two input DataFrames; the engine
contributes the declarative middle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def eov_keyword_links(
    eov_links: DataFrame,
    tkeywords: DataFrame,
    vocab_pattern: str = "goosocean",
    keep_unmatched: bool = False,
) -> DataFrame:
    """(layer_id, short_name) ⟕ vocabulary keywords on short_name=alt_label
    (J4: differing key names) -> (resourcebase_id, tkeyword_id) rows ready
    for the K7 overwrite.

    ``keep_unmatched=True`` reproduces the reference EXACTLY — its left
    join keeps links whose short_name has no vocabulary entry as
    null-keyword rows and never dedupes (eov_to_keywords.Rmd:61-64). The
    default drops them and dedupes: a null thesauruskeyword_id row is
    useless to GeoNode and a duplicate (layer, keyword) pair violates the
    target table's semantics — documented intentional divergence."""
    tk = tkeywords.filter(F.col("about").rlike(vocab_pattern)).select(
        F.col("id").alias("tkeyword_id"), F.col("alt_label")
    )
    joined = eov_links.join(
        # unmeasured: no catalog query or portal stage reaches this join
        F.broadcast(tk), eov_links.short_name == tk.alt_label, "left"
    ).select(F.col("layer_id").alias("resourcebase_id"), "tkeyword_id")
    if keep_unmatched:
        return joined
    return joined.filter(F.col("tkeyword_id").isNotNull()).distinct()
