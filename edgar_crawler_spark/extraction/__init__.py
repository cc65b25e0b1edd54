"""Pure-Python filing-section extraction library.

Re-implements the observable semantics of the reference's
ExtractItems stage (/root/reference/extract_items.py) with zero
third-party dependencies, so it can run unchanged inside Spark
executor Python workers as a vectorized mapInPandas stage
(operators/extract_job.py).

No Spark imports here — everything is a pure function of
(file bytes, filing metadata, options), unit-testable in-process.
"""

from .pipeline import ExtractionOptions, extract_filing, item_sections  # noqa: F401
