"""Driver queries grouped by family, one module per family. Importing
this package registers every query they define (see registry.py)."""

from . import geo, graph, relational, stats, storage, streaming, text, timeseries  # noqa: F401
