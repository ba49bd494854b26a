CREATE TABLE IF NOT EXISTS {table} (ip_beg INTEGER, ip_end INTEGER, zone TEXT);
