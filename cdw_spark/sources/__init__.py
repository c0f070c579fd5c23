"""Bulk JSON ingestion: the reference's two COPY paths (``json_loader``)."""
