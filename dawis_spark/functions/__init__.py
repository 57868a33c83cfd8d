"""Scalar/array function helpers.

  text    — tokenization, shingles, polynomial hashes, MinHash/SimHash
            fragments rendered for BOTH Spark SQL and DuckDB (oracle parity
            by construction)
  vectors — cosine/dot-product fragments, dual-rendered the same way,
            with their numpy twins and the double-array SQL literal
  folds   — the exact float sum (left fold from 0.0 in key order), as
            Spark SQL text and as a driver-side loop
  html    — HTML extraction pandas UDFs (the one family Spark can't express)
  urls    — URL struct parse/assemble on built-ins
"""
