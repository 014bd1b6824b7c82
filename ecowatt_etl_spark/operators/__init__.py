"""Relational + beyond-reference operators.

Modules:
    keys         — surrogate-key generation (O5)
    aggregations — grouped/global aggregate builders (A1–A7)
    joins        — join helpers: conformance full-outer, broadcast star (J1–J6)
    reshape      — wide↔long pivot/unpivot/union (R1–R3)
    windows      — event-time windowing in batch (tumbling/sliding/session)
    dedup        — exact + near-duplicate detection (MinHash LSH, SimHash,
                   n-gram Jaccard, embedding cosine)
    similarity   — embedding similarity search (brute-force + LSH-bucketed)
    text         — language-ID, quality scoring, token counting, fingerprints
    multimodal   — binary-column (image/audio/video) plumbing with stub decoders
"""
