"""Graph algorithms over edge-list DataFrames.

Entity graphs fall out of every curation pipeline (duplicate clusters,
citation/link graphs, co-occurrence graphs), and the two classic scale
questions are centrality (:mod:`pagerank`) and local clustering
(:mod:`triangles`). Both are expressed as join/groupBy plans over a
distributed (src, dst) edge list — no driver-side adjacency, no RDDs —
the same shapes GraphX/GraphFrames lower to, minus the framework.

Connected components (the third classic) is :mod:`cc`, shared by gr6
and the duplicate-cluster resolution of td7/td9. Undirected kernels read
one representation, built only by :mod:`undirected`.

Engine exactness: PageRank runs in e9 fixed-point integer arithmetic
(sums of longs are order-independent where float mass would reassociate
differently across engines); triangle counts are pure integers.
"""
