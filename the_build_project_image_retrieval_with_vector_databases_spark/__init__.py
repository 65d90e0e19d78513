"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference vector-database application
(``victorhuzhening/The-Build-Project_Image-Retrieval-With-Vector-Databases``).

Design (see SURVEY.md):

- One **embeddings table** ``(id, path, label, category, embedding array<float>)``
  replaces the reference's FAISS index + JSON/pickle sidecars (SURVEY §1.4).
- Distances are **pure Catalyst column expressions** over ``array<float>``
  (higher-order functions, oracle-checkable; ``transform``/``aggregate``
  run interpreted inside the generated stage); pandas-UDF fast paths
  exist only where built-ins can't express the semantics.
- Exact kNN = broadcast query + columnar scan + top-k
  (``TakeOrderedAndProject`` / window-rank); approximate kNN = IVF
  (k-means-centroid partition pruning) or random-hyperplane LSH.
- LLM-data-pipeline extensions (dedup, text analysis, similarity search,
  multimodal columns) are first-class operators on the same stack.

Everything here is declarative DataFrame/SQL first so Catalyst gets to do
predicate pushdown, column pruning, broadcast-join selection, and AQE —
this is what makes the operators survive a 100 TB / 1000-executor scale-up.
"""

__version__ = "0.1.0"
