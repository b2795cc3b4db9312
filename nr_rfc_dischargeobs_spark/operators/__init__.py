"""Core engine operators (SURVEY.md §2.2-2.6), parameterized over column
names so the same implementations serve the canonical observation table
(FIXTURES.md F7), the driver's ``events`` stand-in, and any conformed source.

Design rules (SURVEY.md §4): every operator is a pure DataFrame→DataFrame
transformation built from Catalyst-visible expressions — no Python
row-at-a-time UDFs, no driver-side collect in the data path.  That holds
for the rising/falling recurrence (``recurrence.py``) too: its output depends
on its own prior output, but its state is one bit, so it is a window scan.
"""
