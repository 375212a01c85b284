"""The persisted indexes: the vector index's generation storage and
lifecycle (``generation``), its fixed-point vector format and
collected-codebook assignment (``codebook``), the probe operator every
serving path runs (``probe``), and the MinHash band index of the text
near-dup gate (``bands``)."""
