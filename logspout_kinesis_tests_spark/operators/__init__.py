"""Batch ``DataFrame -> DataFrame`` operators: the reference's ETL record
transform (``etl``) and the LLM-data-pipeline operators (``dedup``, ``ann``,
``similarity``, ``text_analysis``, ``multimodal``, ``curation`` and the
rest).

Import from the submodules.  This package re-exports nothing, so importing
one operator module does not load the others (``multimodal`` pulls in
pandas).
"""
