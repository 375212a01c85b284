"""The persisted vector index: its generation storage and lifecycle
(``generation``), its fixed-point vector format and collected-codebook
assignment (``codebook``), and the probe operator every serving path
runs (``probe``)."""
