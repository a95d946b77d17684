"""Tests of the benchmark's Python side: python3 -m unittest perfbench/test_run.py"""
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class CompareFramesTest(unittest.TestCase):
    def frame(self):
        return pd.DataFrame({'id_a': [1, 2, 3], 'id_b': [4, 5, 6], 'j': [0.5, 0.75, 1.0]})

    def test_row_order_does_not_matter(self):
        a = self.frame()
        self.assertEqual(run.compare_frames(a.iloc[::-1], a), 'match')

    def test_injected_value_mismatch(self):
        a = self.frame()
        b = a.copy()
        b.loc[1, 'j'] = 0.7
        self.assertEqual(run.compare_frames(b, a), 'values differ')

    def test_missing_row_and_dtype_drift(self):
        a = self.frame()
        self.assertTrue(run.compare_frames(a.iloc[:2], a).startswith('rows'))
        self.assertTrue(run.compare_frames(a.astype({'id_a': 'float64'}), a).startswith('dtypes'))
        self.assertTrue(run.compare_frames(a.drop(columns=['j']), a).startswith('schema'))


class OracleReplayTest(unittest.TestCase):
    def test_replay_catches_a_wrong_output_and_a_wrong_row_count(self):
        import tempfile
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            docs = os.path.join(d, 'documents.parquet')
            os.makedirs(docs)
            duckdb.sql("copy (select range as doc_id, 'w' || range as text from range(5)) "
                       f"to '{docs}/part-0.parquet' (format parquet)")
            for name, q in (('good', 'select doc_id from documents'),
                            ('bad', 'select doc_id + 1 as doc_id from documents')):
                os.makedirs(os.path.join(d, name))
                duckdb.sql(f"copy ({q.replace('documents', repr(docs + '/*.parquet'))}) "
                           f"to '{d}/{name}/part-0.parquet' (format parquet)")
            check = {'documents': docs, 'queries': {
                'good': {'oracle_sql': 'select doc_id from documents',
                         'output': os.path.join(d, 'good'), 'rows': [5, 5, 4]},
                'bad': {'oracle_sql': 'select doc_id from documents',
                        'output': os.path.join(d, 'bad'), 'rows': [5, 5, 5]},
            }}
            failed, verdicts = run.oracle_replay(check)
            self.assertEqual(verdicts['bad'], 'values differ')
            self.assertIn('1 passes', verdicts['good'])
            self.assertEqual(failed, 3 + 1)


class ResultLineTest(unittest.TestCase):
    spec = {'end_to_end': [{'name': 'setup_s', 'unit': 's'}, {'name': 'doc_ms_p50', 'unit': 'ms'}],
            'per_layer': [{'name': 'core.lex_ms_per_mb', 'unit': 'ms/MB'},
                          {'name': 'ops.resident_mb', 'unit': 'MB'}]}

    def res(self, workload, **metrics):
        return {'workload': workload, 'attempted': 3, 'failed': 0, 'metrics': metrics}

    def test_every_metric_is_printed_with_its_unit(self):
        res = self.res('engine_large', setup_s={'value': 1.5, 'unit': 's'},
                       doc_ms_p50={'value': 0.5, 'unit': 'ms'},
                       **{'core.lex_ms_per_mb': {'value': 5.5, 'unit': 'ms/MB'}})
        line = run.result_line(self.spec, res, False, True)
        self.assertEqual(set(line), {'correct', 'attempted', 'failed', 'metrics'})
        self.assertEqual(line['metrics'], {'setup_s': {'value': 1.5, 'unit': 's'},
                                           'doc_ms_p50': {'value': 0.5, 'unit': 'ms'}})
        layer = run.result_line(self.spec, res, True, True)
        self.assertEqual(layer['metrics'], {'core.lex_ms_per_mb': {'value': 5.5, 'unit': 'ms/MB'},
                                            'ops.resident_mb': {'value': 0.0, 'unit': 'MB'}})

    def test_a_layer_the_workload_calls_must_be_measured(self):
        res = self.res('dedup_memo', **{'ops.resident_mb': {'value': None, 'unit': 'MB', 'reason': 'x'}})
        with self.assertRaises(ValueError):
            run.result_line(self.spec, res, True, True)
        with self.assertRaises(ValueError):
            run.result_line(self.spec, self.res('engine_large'), True, True)
        with self.assertRaises(ValueError):
            run.result_line(self.spec, self.res('engine_large'), False, True)

    def test_a_unit_disagreement_is_an_error(self):
        res = self.res('engine_large', setup_s={'value': 1.0, 'unit': 'ms'})
        with self.assertRaises(ValueError):
            run.result_line(self.spec, res, False, True)


if __name__ == '__main__':
    unittest.main()
