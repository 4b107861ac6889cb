"""The logistic quality classifier (operators/text.py); cross-engine
hashes live in test_entry_contract."""


def test_quality_classifier_semantics(spark):
    rows = [
        (1, "the cat sat on the mat and the dog ran to the house "
            "of a friend with many different interesting words"),
        (2, "spam spam spam spam spam spam spam spam"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    from ocr_pytorch_spark.operators.text import quality_classifier

    out = {r["doc_id"]: r for r in quality_classifier(d).collect()}
    # diverse stopword-bearing prose scores above the repeated spam
    assert out[1]["score"] > out[2]["score"]
    assert out[1]["f_uniq"] > out[2]["f_uniq"]
    assert out[2]["f_stop"] == 0.0
    assert out[1]["keep"] in (True, False)  # boolean column present
