"""Sources: transcript table construction + payload templates, the dataset
adapter, and IceTable.

The reference's analogue of the transcript synthesis is the synthetic
FakeData generator (/root/reference/deepdoctection/dataflow/serialize.py:77-131).
"""
