"""paddleocr_spark — PySpark-native transcript main-content extraction engine.

A from-scratch re-imagination of PaddleOCR's detect → recognize → structure
stages (reference read-only at /root/reference) as vectorized text/layout
extraction over tables of multi-turn agent transcripts. See SURVEY.md for the
operator-by-operator mapping and docs/SPEC.md for the extraction semantics.
"""

# first: every Python worker that unpickles one of the package's UDFs
# installs the zipimport directory cache before its next task
from . import _zipcache  # noqa: F401
from .config import ExtractConfig, DEFAULT_CONFIG
from .kernel import extract_payload, extract_batch, assemble_text
from .oracle import oracle_extract
from .api import TranscriptExtractor, register_sql_functions

__version__ = "0.1.0"

__all__ = [
    "ExtractConfig",
    "DEFAULT_CONFIG",
    "extract_payload",
    "extract_batch",
    "assemble_text",
    "oracle_extract",
    "TranscriptExtractor",
    "register_sql_functions",
]
