"""Streaming-analog semantics (SURVEY §2.9) + Structured Streaming wrapper.

  alerts    — append-only alert queue consumed by high-watermark offset
  retry     — failed-import retry table (read at start, delete on success)
  processed — processed-log watermark for incremental operations (P7)
  stream    — availableNow micro-batch wrapper over staging directories

Cross-batch state:
  stateful  — exact dedup across micro-batches
  neardup   — near-duplicate (MinHash-LSH) and semantic admission gates
  sketch    — KMV distinct-count synopsis in stream state
  heartbeat — silent-series alerts via processing-time timeouts
  whales    — single-shot hot-key crossing alerts with TTL windows

The detector family (measure -> decide -> deliver into the alert queue):
  detector  — the family's single retained-series fold, latch and
              queue sink; each module below is a closed form plus
              its output columns and queue message
  cusum       — CUSUM level shift (scores and alerts)
  pagehinkley — Page-Hinkley mean drift
  spc         — SPC individuals chart, Western Electric rules
  msprt       — mSPRT always-valid sequential significance
  srmmon      — sample-ratio-mismatch guard
  forecastmon — Holt forecast-residual surprise
  holt        — Holt linear forecasts (scores only)
  anomaly     — robust (median/MAD) anomaly scores
  drift       — PSI distribution drift (histogram state, own fold)
"""
