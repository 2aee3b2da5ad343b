"""Writers: the canonical parquet sink, the SONATA bundle and its
``.h5`` export.  Import each name from its defining module."""
