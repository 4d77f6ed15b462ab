"""Composable DataFrame -> DataFrame operators.

Each module covers one family from SURVEY.md §2:
  filters     — F1-F11 conjunctive predicate builders
  pagination  — W1/W3 sort + limit/offset + A1 totals
  windows     — W2 adjacent-row chain repair
  joins       — J4 hash-chain join, anti-join
  chain_sort  — J6 per-object linked-list ordering
  dedup       — exact / minhash-LSH / simhash / n-gram / embedding dedup
  similarity  — brute-force + RP-LSH + IVF ANN over embeddings
  sessions    — gap-based sessionization
  asof        — as-of (nearest-timestamp) join
  ranges      — range (point-in-interval) join via bucketing
  skew        — salted join / two-phase collect_set
  multimodal  — binary-column decode/feature plumbing (stubs for codecs)
"""
