"""Pure-Python extraction core — the single-node oracle.

Every function here is deterministic, Spark-free and numpy/pandas-friendly.
The Spark operators in ``frogocr_spark.operators`` wrap these same functions
inside Arrow-batched operators (``mapInArrow`` for extraction,
``mapInPandas`` elsewhere), so Spark output == oracle output
byte-for-byte by construction; pytest verifies it anyway (tests/).

Module map (reference citations inside each module):

- ``sniff``       payload-format classification (codec choice analog)
- ``segment``     XY-cut / band reading-order recovery for layout payloads
- ``boilerplate`` text-density / link-density block classification (HTML)
- ``markdown``    markup strip with span tracking
- ``tooljson``    structured tool-output field extraction
- ``secondpass``  low-confidence region re-extraction + overlap merge
- ``assemble``    span-level text assembly + empty-cascade pruning
- ``extract``     per-turn reference dispatch + the batch entry point

Row-scanner contract: each payload class has one row scanner
``*_arrays(raw)`` (``extract.plain_arrays``, ``tooljson.tool_json_arrays``,
``boilerplate.html_arrays``, ``segment.pdf_arrays``,
``markdown.markdown_arrays``, ``secondpass.two_pass_arrays``) that
returns the row's extracted text, ``(start, end)`` span pairs and counts
without building Segment/Block objects; ``extract.extract_batch`` loops
over them class by class.  The Block scanners (``extract_<class>``) stay
as the reference the tests compare the row scanners against; for
``two_pass`` that is ``secondpass.extract_two_pass`` over the reference
merge, which ``two_pass_arrays`` replaces with one scan of the payload.
"""
