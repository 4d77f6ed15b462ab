"""Scalar/column function library.

  jets    — jet-id algebra (parents, siblings, trie coverage, jet-drop ids)
  refs    — base58 references, empty-bytes normalization
  text    — tokenization, shingles, quality metrics, language ID
  vectors — cosine/dot products over array<float> embedding columns
"""
