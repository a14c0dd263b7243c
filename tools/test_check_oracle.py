"""tools/check_oracle.py as a gate: the summary line and the exit status.
python3 -m unittest discover -s tools -p 'test_*.py'"""
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

SCRIPT = Path(__file__).resolve().parent / 'check_oracle.py'


def write(path, table):
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(path))


class CheckOracleTest(unittest.TestCase):
    def run_check(self, oracle, outputs):
        """Runs the script over a tiny sf dir (one documents table) and a
        Verify-shaped output dir; returns (exit status, stdout)."""
        with tempfile.TemporaryDirectory() as d:
            sf, out = Path(d) / 'sf', Path(d) / 'out'
            write(sf / 'documents.parquet', pa.table({'doc_id': [1, 2, 3]}))
            out.mkdir()
            for name, table in outputs.items():
                write(out / name / 'part-00000.parquet', table)
            (out / 'oracle_sql.json').write_text(json.dumps(oracle))
            r = subprocess.run([sys.executable, '-B', str(SCRIPT), str(sf), str(out)],
                               capture_output=True, text=True, timeout=120)
            return r.returncode, r.stdout

    def test_a_mismatch_fails_the_run(self):
        code, stdout = self.run_check(
            {'q_good': 'SELECT doc_id FROM documents',
             'q_bad': 'SELECT doc_id + 1 AS doc_id FROM documents'},
            {'q_good': pa.table({'doc_id': [3, 1, 2]}),
             'q_bad': pa.table({'doc_id': [1, 2, 3]})})
        lines = stdout.splitlines()
        self.assertIn('q_good: OK (3 rows)', lines)
        self.assertTrue(any(line.startswith('q_bad: VALUE MISMATCH') for line in lines), stdout)
        self.assertEqual(lines[-1], '1/2 OK')
        self.assertNotEqual(code, 0)

    def test_a_missing_output_fails_the_run(self):
        code, stdout = self.run_check({'q_gone': 'SELECT doc_id FROM documents'}, {})
        self.assertEqual(stdout.splitlines(), ['q_gone: NO SPARK OUTPUT', '0/1 OK'])
        self.assertNotEqual(code, 0)

    def test_all_ok_passes(self):
        code, stdout = self.run_check(
            {'q_good': 'SELECT doc_id FROM documents'},
            {'q_good': pa.table({'doc_id': [2, 3, 1]})})
        self.assertEqual(stdout.splitlines(), ['q_good: OK (3 rows)', '1/1 OK'])
        self.assertEqual(code, 0)


if __name__ == '__main__':
    unittest.main()
