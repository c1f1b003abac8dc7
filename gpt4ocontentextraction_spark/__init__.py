"""gpt4ocontentextraction_spark — a PySpark-native document-extraction engine.

A from-scratch rebuild of the capabilities of liamca/GPT4oContentExtraction
(reference at /root/reference, studied read-only) expressed Spark-first:

- input: a table of interleaved text+media documents,
  ``(doc_id: string, spans: array<struct<kind,text,media_ref,offset:int>>)``
- the core operator is a vectorized, deterministic page->markdown extraction
  kernel (pyarrow/numpy, wrapped in ``mapInArrow`` over Arrow batches)
  replacing the reference's GPT-4o vision call
  (reference: docker/main.py:566-611, doc2md_utils.py:180-205)
- ordered merge, page/markdown chunking, resume anti-join, skew salting,
  checkpointed snapshot writes, and a retrieval/dedup/text-statistics
  operator family round out the pipeline.

Everything here derives from public knowledge only (Apache Spark / PySpark
APIs, the public reference repo, published boilerplate-detection and
near-duplicate-detection literature).
"""

__version__ = "0.1.0"
