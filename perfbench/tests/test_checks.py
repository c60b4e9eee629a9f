"""The serve_batches code check on tiny frames, without Spark."""

import pandas as pd

from perfbench.workloads import CRITEO_BUCKETS, code_errors, expected_codes

START = 2 + CRITEO_BUCKETS      # first vocab code


def frames(codes):
    values = ["a"] * 20 + ["b"] * 15 + ["c"] * 3 + [None]
    pdf_in = pd.DataFrame({"row_id": range(len(values)), "cat_0": values})
    pdf_out = pd.DataFrame({"row_id": range(len(values)),
                            "cat_0": [codes[v] for v in values]})
    return pdf_in, pdf_out


def test_expected_vocab_keeps_frequent_values_most_frequent_first():
    pdf_in, _ = frames({"a": 0, "b": 0, "c": 0, None: 0})
    assert expected_codes(pdf_in, "cat_0") == {"a": START, "b": START + 1}


def test_correct_codes_pass_and_count_vocab_hits():
    pdf_in, pdf_out = frames({"a": START, "b": START + 1, "c": 5, None: 1})
    vocab = expected_codes(pdf_in, "cat_0")
    assert code_errors(pdf_in, pdf_out, {"cat_0": vocab}) == {"cat_0": (0, 35)}


def test_encoder_that_ignores_its_vocab_fails():
    # every value hashed into an OOV bucket, as with an empty vocab
    pdf_in, pdf_out = frames({"a": 3, "b": 4, "c": 5, None: 1})
    vocab = expected_codes(pdf_in, "cat_0")
    bad, hits = code_errors(pdf_in, pdf_out, {"cat_0": vocab})["cat_0"]
    assert (bad, hits) == (35, 35)


def test_no_vocab_hits_is_visible():
    pdf_in, pdf_out = frames({"a": 3, "b": 4, "c": 5, None: 1})
    assert code_errors(pdf_in, pdf_out, {"cat_0": {}}) == {"cat_0": (0, 0)}
