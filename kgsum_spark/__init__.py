"""kgsum_spark — a from-scratch PySpark-native knowledge-graph construction
and profiling engine with the capabilities of mariocosenza/kgsum.

Reference semantics (file:line cites into /root/reference/) are re-expressed
Spark-first: declarative DataFrame plans for every relational operator and
for rule extraction, vectorized pandas/Arrow UDFs for the NLP surface, explicit
shuffle partitioning, checkpoint/resume, and per-partition lineage.

Layout:
  session       SparkSession builders tuned for local[N] and cluster runs
  schemas       explicit StructTypes for every table (no inference)
  synth         deterministic transcript corpus + golden-triple oracle
  assembly      window-ordered turn assembly (row_number over conv_id)
  extraction    OpenIE-style triple + mention extraction (one Catalyst plan)
  linking       token-blocking, similarity candidate joins, sameAs edges
  canonicalize  iterative connected-components (large-star/small-star)
  pipeline      end-to-end staged run with checkpoint markers + lineage
  profile       the Q1-Q12 profile-query battery over the triples table
  operators/    filters (F*), scalar funcs (C*), joins (J*), aggregates (A*)
  datapipe/     training-data ops: dedup, ANN similarity, text stats, multimodal
"""

__version__ = "0.1.0"
