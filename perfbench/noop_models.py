"""No-op model factories for ``core.models.ModelSeam``.

Extraction run with these models does everything except the model layers
(HTML parse, NER, OCR): scan, routing, url shuffle, the Arrow hand-off to
Python and back, and the native post-compute. Its time is the framework
cost of ``operators.extraction.extract_documents``. The factories are
module-level so Python workers can import them by name.
"""


def _html(_payload):
    return "noop"


def _ner(_text):
    return []


def _ocr(_payload):
    return [("noop", 100.0)]


def html_factory():
    return _html


def ner_factory():
    return _ner


def ocr_factory():
    return _ocr


def seam():
    from medical_vector_database_ocr_ner_spark.core.models import ModelSeam

    return ModelSeam(ocr_factory=ocr_factory, ner_factory=ner_factory,
                     html_factory=html_factory)
