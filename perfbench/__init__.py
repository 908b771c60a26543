"""A steady benchmark of the fineventstream_spark engine; see README.md."""
