"""The persisted vector index: its generation storage and lifecycle
(``generation``)."""
