"""mistral_ocr_spark — a PySpark-native document-extraction engine.

A from-scratch, in-cluster re-expression of the capability surface of the
reference CLI client (stevegsax/mistral-ocr: submit / track / retrieve /
search of per-document text extraction — see SURVEY.md). The remote OCR
call becomes a deterministic, vectorized main-content extractor running
inside Spark executors over Arrow batches; the SQLite job/result/lineage
store becomes Spark tables behind an atomic-manifest table format; the CLI
verbs become Spark SQL queries.

Design tenets (scale-first):
- DataFrame/SQL plans everywhere; Catalyst does pushdown/pruning/join
  selection. Python only inside ``mapInArrow`` batches (never per-row UDFs).
- Explicit skew handling: salted repartition on url-host hash.
- Idempotent, checkpoint-resumable commits: per-chunk atomic manifest
  covering data + lineage, so a killed job resumes exactly-once per url.
"""

EXTRACTOR_VERSION = "1.8.0"  # 1.8.0: one stream decoder for both PDF passes (the byte-order fallback cuts payloads to a direct /Length and accepts only Flate payloads that inflate to their end, as the page-tree pass does) + one-digit ToUnicode codespace ranges read as 1-byte codes; 1.7.0: one MAX_DECODED_BYTES decode budget per PDF (overrun → resource_limit) + HTML5 tokenization of malformed markup in both engines (comments end only at -->, </ + non-letter is a bogus comment, raw text ends at </script + [\t\n\f\r />], a tag cut short by EOF is dropped); 1.6.0: PDF cross-reference parsing (xref streams + classic tables + /Prev chains + hybrid /XRefStm; current-body authority over the byte scan) + /Length-bounded stream payloads + complete-stream Flate acceptance; 1.5.0: PDF stream-filter cascade (ASCIIHex/ASCII85/RunLength/LZW) + encoded-body excision in the fallback scan; 1.4.0: ToUnicode CMaps + UTF-16BE; 1.3.0: page-tree ordering (ObjStm); 1.2.1: TJ kern fix

__all__ = ["EXTRACTOR_VERSION"]

# every mapInArrow kernel imports this package when its task unpickles it
from mistral_ocr_spark import _worker

_worker.install()
